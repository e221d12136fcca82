"""Text analysis operators over a documents table (doc_id, text, ...).

All pure built-in Column expressions — JVM-side, whole-stage-codegen'd, no
Python in the row path. Each operator is deliberately expressible in ANSI SQL
too (the DuckDB oracle runs the same formulas), so correctness is
cross-checked value-for-value.

Scale notes: every operator here is a narrow map over the scan — no shuffle,
no skew risk; at 100 TB these run at parquet-read speed with full column
pruning (only doc_id + text are read).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame

# tiny English stopword set used by the heuristics (shared with the oracle)
STOPWORDS = ("the", "a", "is", "of", "and")


def _occurrences(col, needle: str):
    """Number of occurrences of `needle` via length-difference — the one
    string-count formula that renders identically in Spark SQL and DuckDB."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def token_stats(docs: DataFrame) -> DataFrame:
    """doc_id, n_chars, n_tokens (single-space separated), avg_token_len."""
    text = F.col("text")
    n_tokens = F.size(F.split(text, " "))
    n_spaces = _occurrences(text, " ")
    return docs.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round((F.length(text) - n_spaces) / n_tokens, 4)
        .cast("double")
        .alias("avg_token_len"),
    )


# GPT-2-style pretokenizer, simplified to constructs RE2 (DuckDB) and Java
# regex both support with identical leftmost-first alternation: contraction
# suffixes, letter runs, digit runs, symbol runs, whitespace runs.
BPE_ISH_PATTERN = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """BPE-style token counting: the GPT-2 pretokenizer split (letter runs /
    digit runs / punctuation runs / contractions), which upper-bounds real
    BPE token counts and is the standard cheap budget estimator for
    pretraining pipelines. Returns (doc_id, n_bpe_tokens, n_ws_tokens,
    bpe_per_ws ratio)."""
    text = F.col("text")
    n_bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))
    n_ws = F.size(F.split(text, " "))
    return docs.select(
        "doc_id",
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.round(n_bpe / n_ws, 4).cast("double").alias("bpe_per_ws"),
    )


def _quality_exprs(w=None):
    """(stop_ratio, noise_ratio, quality) expressions over `text` — shared
    by quality_score and the single-pass corpus_report. Pass a pre-staged
    token-array column as ``w`` to avoid re-splitting the text."""
    text = F.col("text")
    n_tokens = (
        F.size(w) if w is not None else F.size(F.split(text, " "))
    ).cast("double")
    stop_hits = None
    for w in STOPWORDS:
        occ = _occurrences(F.concat(F.lit(" "), text, F.lit(" ")), f" {w} ")
        stop_hits = occ if stop_hits is None else stop_hits + occ
    digit_punct = (
        F.length(text)
        - F.length(F.regexp_replace(text, "[0-9!#$%^&*()_+=,.;:?]", ""))
    ).cast("double")
    stop_ratio = F.round(stop_hits / n_tokens, 4)
    noise_ratio = F.round(digit_punct / F.length(text).cast("double"), 4)
    length_ok = (F.length(text) >= 50) & (F.length(text) <= 10000)
    score = F.round(
        (F.when(length_ok, 0.4).otherwise(0.0))
        + F.least(stop_ratio * F.lit(2.0), F.lit(0.4))
        + (F.lit(0.2) - F.least(noise_ratio, F.lit(0.2))),
        4,
    )
    return stop_ratio, noise_ratio, score


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals: length, stopword ratio, digit/punct ratio,
    and a composite [0,1] score. Mirrors the usual pretraining-data quality
    filters (length + stopword density + symbol noise)."""
    stop_ratio, noise_ratio, score = _quality_exprs()
    return docs.select(
        "doc_id",
        F.length(F.col("text")).cast("long").alias("n_chars"),
        stop_ratio.cast("double").alias("stop_ratio"),
        noise_ratio.cast("double").alias("noise_ratio"),
        score.cast("double").alias("quality"),
    )


def language_id(
    docs: DataFrame, keep_cols: list[str] | None = None
) -> DataFrame:
    """N-gram/stopword language heuristic: en vs unknown, with a confidence
    ratio. (A real model would be a broadcast n-gram table; the shape —
    narrow map, no shuffle — is identical.)  ``keep_cols`` ride through
    so downstream consumers (e.g. the confusion report) stay on ONE
    corpus scan instead of rejoining."""
    keep = keep_cols or []
    # stage the padded lowercase text once: the occurrence formula
    # references it 2x per stopword, and lower() is not CSE'd across
    # aliases
    staged = docs.select(
        "doc_id",
        *keep,
        F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
        .alias("p"),
        F.size(F.split(F.col("text"), " ")).cast("double").alias("n_tok"),
    )
    en_hits = None
    for w in STOPWORDS:
        occ = _occurrences(F.col("p"), f" {w} ")
        en_hits = occ if en_hits is None else en_hits + occ
    conf = F.round(en_hits / F.col("n_tok"), 4)
    return staged.select(
        "doc_id",
        *keep,
        F.when(conf >= 0.05, "en").otherwise("und").alias("lang_pred"),
        conf.cast("double").alias("lang_conf"),
    )


def stratified_sample(
    docs: DataFrame, key: str = "lang", n_per_key: int = 50,
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic balanced sampling: the first ``n_per_key`` rows per
    key in ``order_col`` order — the standard shape for balancing a corpus
    across languages/sources before training. (Swap the order column for a
    salted hash to make it a uniform random sample with the same plan.)
    Catalyst turns the row_number window into a per-partition partial
    top-k before the shuffle, so the exchange carries ≤ n_per_key rows per
    key per partition."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_key)
        .drop("__rn")
    )


def pack_sequences(
    docs: DataFrame, budget_tokens: int = 512,
    order_col: str = "doc_id", n_shards: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style), sharded: documents are
    assigned to ``n_shards`` shards by ``order_col % n_shards``, laid out as
    one token stream per shard in ``order_col`` order, and cut every
    ``budget_tokens`` tokens. Returns (doc_id, shard, n_tokens, start_pos,
    first_bin, last_bin) — positions and bins are shard-local; a document
    spans bins first_bin..last_bin of its shard.

    Scale shape: the cumulative-sum window is ``partitionBy(shard)`` so the
    n_shards windows run in parallel — no single-partition global-window
    tail. Chunks never cross shards, which is exactly how packing jobs shard
    in practice (each shard is an independent token stream feeding its own
    writer). ``n_shards=1`` recovers the single-global-stream layout.
    """
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    shard = (F.col(order_col) % n_shards).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        docs.select(order_col, shard.alias("shard"),
                    n_tokens.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
    )
    start = F.col("cum") - F.col("n_tokens")
    return cum.select(
        order_col,
        "shard",
        "n_tokens",
        start.alias("start_pos"),
        (start / budget_tokens).cast("long").alias("first_bin"),
        ((F.col("cum") - 1) / budget_tokens).cast("long").alias("last_bin"),
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 128, overlap: int = 16,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap — the
    standard preprocessing step for RAG indexing and context-window-bounded
    pretraining. Returns one row per chunk:
    (doc_id, chunk_id, start_tok, end_tok, n_tok, chunk_text) with
    ``chunk_id`` 0-based, ``start_tok``/``end_tok`` 0-based half-open token
    offsets, stride ``chunk_tokens - overlap``.

    Pure JVM array expressions (split → sequence of starts → explode →
    slice/concat): a narrow map per document, no shuffle at all — chunking
    100 TB is scan-bound. The trailing partial window is kept (standard
    practice; drop it downstream with ``n_tok`` if a model needs full
    windows only).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    w = F.split(F.col("text"), " ")
    # start offsets 0, stride, 2*stride, ... covering every token; a start
    # is emitted only while it is < n (sequence upper bound n-1)
    starts = F.expr(f"sequence(0, greatest(size(w) - 1, 0), {stride})")
    exploded = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", "w", F.posexplode(starts).alias("chunk_id", "s"))
        # a start whose previous chunk already reached the end of the doc
        # (prev end = s + overlap >= n) adds no new tokens — drop it
        .where((F.col("s") == 0) | (F.col("s") + overlap < F.size("w")))
    )
    end = F.least(F.col("s") + chunk_tokens, F.size("w"))
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("s").cast("long").alias("start_tok"),
        end.cast("long").alias("end_tok"),
        (end - F.col("s")).cast("long").alias("n_tok"),
        F.concat_ws(
            " ", F.slice(F.col("w"), F.col("s") + 1, F.lit(chunk_tokens))
        ).alias("chunk_text"),
    )


_SPLIT_BITS = 60  # 15 md5 hex digits -> fits a signed long exactly


def hash_split(
    docs: DataFrame,
    train: float = 0.9,
    val: float = 0.05,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent id
    hash — the reproducible-split primitive every large pipeline needs: the
    same (id, salt) lands in the same split on any cluster, any engine, any
    day, and changing ``salt`` re-rolls the split without touching data.

    The md5-derived 60-bit hash is compared against EXACT integer
    thresholds (``floor(frac * 2^60)``), so the assignment is
    bit-reproducible cross-engine (DuckDB oracle twin) — no RNG, no float
    thresholds. A narrow map: no shuffle, scan-bound at any scale.
    Returns (id, bucket ∈ 0..2^60-1, split ∈ 'train'|'val'|'test').
    """
    if not (0 < train < 1 and 0 <= val < 1 and train + val < 1):
        raise ValueError("need 0 < train, 0 <= val, train + val < 1")
    scale = 1 << _SPLIT_BITS
    t_train = int(train * scale)
    t_val = t_train + int(val * scale)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return docs.select(
        id_col,
        h.alias("bucket"),
        F.when(h < t_train, "train")
        .when(h < t_val, "val")
        .otherwise("test")
        .alias("split"),
    )


def hash_split_oracle_sql(
    table: str = "documents",
    train: float = 0.9,
    val: float = 0.05,
    id_col: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB twin of :func:`hash_split` (identical hash + thresholds)."""
    scale = 1 << _SPLIT_BITS
    t_train = int(train * scale)
    t_val = t_train + int(val * scale)
    h = (
        f"('0x' || substr(md5(CAST({id_col} AS VARCHAR) || ':{salt}'), "
        "1, 15))::BIGINT"
    )
    return f"""
SELECT {id_col}, {h} AS bucket,
       CASE WHEN {h} < {t_train} THEN 'train'
            WHEN {h} < {t_val} THEN 'val'
            ELSE 'test' END AS split
FROM {table}
"""


def weighted_sample(
    docs: DataFrame,
    weights: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic corpus mixing: sample each group toward the target
    proportions ``weights`` at the LARGEST total the available data
    supports — the data-mixture step of every pretraining pipeline
    ("60% en / 20% fr / 20% de"), with no RNG anywhere. Per-group kept
    counts are binomial around the target (hash-threshold sampling is
    exact in expectation, ±O(√n) realized) — the price of keeping the
    filter a narrow map; a rank-by-hash top-``need_g`` variant would be
    count-exact but needs a per-group sort whose parallelism is bounded
    by the (few) groups.

    ``weight_col``: when given (an integer column, e.g. a token count),
    proportions target that column's MASS per group instead of document
    counts — the real pretraining mix ("60% of *tokens* from en"). The
    machinery is identical with per-group sums in place of counts; the
    hash threshold keeps each group's expected kept-mass on target
    because the id hash is independent of document length.

    The machinery is all exact integer arithmetic until one final,
    cross-engine-identical double expression: weights become parts-per-
    million; per-group capacity ``cap_g = n_g·10^6 div ppm_g`` (the total
    T at which group g runs out); ``T = min(cap_g)``; per-group need
    ``need_g = T·ppm_g div 10^6``. Membership is the same md5-derived
    60-bit id hash as :func:`hash_split` compared against
    ``floor(need_g/n_g · 2^60)`` — the one double expression, written
    identically in the DuckDB oracle so thresholds are bit-equal. The
    same (id, salt) is kept or dropped on any engine, any day; changing
    ``salt`` re-rolls the sample.

    Plan shape: one narrow counts scan (group column only, collected —
    the aggregate is <= len(weights) rows by construction), thresholds
    derived driver-side, then a single narrow hash-filter over the
    corpus with the tiny threshold frame broadcast — no corpus shuffle,
    scan-bound at 100 TB. Groups absent from
    ``weights`` are excluded; a weighted group with no rows makes the mix
    unsatisfiable and yields an empty result (T = 0) rather than silently
    changing proportions. Returns (id, group) of the kept docs.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    ppm = {g: int(round(w * 1_000_000)) for g, w in weights.items()}
    if any(p <= 0 for p in ppm.values()):
        raise ValueError("every weight must be > 0")
    if sum(ppm.values()) > 1_000_000:
        raise ValueError("weights must sum to <= 1")
    spark = docs.sparkSession
    wdf = local_frame(
        spark,
        list(ppm.items()), f"{group_col} string, w_ppm long"
    )
    mass = (F.count(F.lit(1)) if weight_col is None
            else F.sum(F.col(weight_col).cast("long")))
    # the per-group mass aggregate is <= len(weights) rows by construction
    # — collect it and derive T / need / thresholds on the driver with the
    # SAME integer-div + IEEE-double expressions both engines use (Python
    # floats are IEEE doubles: identical results). One narrow counts scan
    # + one filter scan, instead of Catalyst re-scanning the corpus for
    # the counts, T, and threshold subtrees of a single lazy plan.
    observed = {
        r[group_col]: r["n"]
        for r in docs.join(F.broadcast(wdf), group_col)
        .groupBy(group_col)
        .agg(mass.alias("n"))
        .collect()
    }
    n_by = {g: int(observed.get(g, 0)) for g in ppm}
    big_t = min(n * 1_000_000 // p for g, p in ppm.items()
                for n in [n_by[g]])
    thresholds = []
    for g, p in ppm.items():
        n = n_by[g]
        need = big_t * p // 1_000_000
        # n = 0 (an empty weighted group) forces T = 0 and need = 0;
        # guard the 0/0 explicitly
        th = 0 if n == 0 else int(
            math.floor(need / n * float(1 << _SPLIT_BITS))
        )
        thresholds.append((g, th))
    thr = local_frame(
        spark,
        thresholds, f"{group_col} string, __thr long"
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return (
        docs.join(F.broadcast(thr), group_col)
        .where(h < F.col("__thr"))
        .select(id_col, group_col)
    )


def weighted_sample_oracle_sql(
    weights: dict[str, float],
    table: str = "documents",
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    weight_expr: str | None = None,
) -> str:
    """DuckDB twin of :func:`weighted_sample` — identical integer ppm
    machinery and the identical double threshold expression.
    ``weight_expr`` is the SQL equivalent of the Spark ``weight_col``
    (e.g. ``len(string_split(text, ' '))`` for a token count)."""
    ppm = {g: int(round(w * 1_000_000)) for g, w in weights.items()}
    values = ", ".join(f"('{g}', {p})" for g, p in ppm.items())
    scale = float(1 << _SPLIT_BITS)
    mass = ("count(*)" if weight_expr is None
            else f"sum(CAST({weight_expr} AS BIGINT))")
    h = (
        f"('0x' || substr(md5(CAST(d.{id_col} AS VARCHAR) || ':{salt}'), "
        "1, 15))::BIGINT"
    )
    return f"""
WITH w({group_col}, w_ppm) AS (VALUES {values}),
c AS (
  SELECT w.{group_col}, w.w_ppm,
         CAST(coalesce(cnt.n, 0) AS BIGINT) AS n
  FROM w LEFT JOIN (
    SELECT {group_col}, {mass} AS n FROM {table} GROUP BY 1
  ) cnt ON w.{group_col} = cnt.{group_col}
),
t AS (SELECT min(n * 1000000 // w_ppm) AS T FROM c),
thr AS (
  SELECT c.{group_col},
         CASE WHEN c.n = 0 THEN 0
              ELSE CAST(floor(CAST((t.T * c.w_ppm // 1000000) AS DOUBLE)
                              / CAST(c.n AS DOUBLE) * {scale!r}) AS BIGINT)
         END AS th
  FROM c, t
)
SELECT d.{id_col}, d.{group_col}
FROM {table} d JOIN thr ON d.{group_col} = thr.{group_col}
WHERE {h} < thr.th
"""


def clean_corpus(
    docs: DataFrame, min_quality: float = 0.5, lang: str = "en",
) -> DataFrame:
    """The composed pretraining-prep pipeline in one lazy plan:
    exact-dedup removal (keep lowest doc_id per md5) → quality gate →
    language gate. Returns (doc_id, n_chars, quality, lang_pred).

    Every stage is a narrow map except the dedup window (one shuffle on the
    32-byte fingerprint); the quality and language signals are evaluated
    in ONE staged projection over the deduped frame (a join of the two
    standalone operators would run the dedup window twice and add a
    doc_id exchange), so the whole pipeline is scan + one exchange — the
    shape that matters when the input is 100 TB of text.
    """
    w = Window.partitionBy(F.md5(F.col("text")))
    deduped = (
        docs.withColumn("__canon", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__canon"))
        .drop("__canon")
    )
    staged = deduped.select(
        "doc_id", "text",
        F.split(F.col("text"), " ").alias("w"),
        F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
        .alias("__p"),
    )
    _stop_ratio, _noise_ratio, quality = _quality_exprs(F.col("w"))
    en_hits = None
    for sw_ in STOPWORDS:
        occ = _occurrences(F.col("__p"), f" {sw_} ")
        en_hits = occ if en_hits is None else en_hits + occ
    lang_conf = F.round(en_hits / F.size(F.col("w")).cast("double"), 4)
    scored = staged.select(
        "doc_id",
        F.length(F.col("text")).cast("long").alias("n_chars"),
        quality.cast("double").alias("quality"),
        F.when(lang_conf >= 0.05, "en").otherwise("und").alias("lang_pred"),
    )
    return scored.where(
        (F.col("quality") >= min_quality) & (F.col("lang_pred") == lang)
    )


def document_fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 over case-folded,
    whitespace-collapsed text. The dedup-join key for exact dedup at scale
    (hash first, compare 32-byte keys instead of full documents)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("long").alias("norm_len"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3, min_len: int = 3) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf × ln(N/df)).

    Tokenization is lowercase alpha runs (``[^a-z]+`` split) of length ≥
    ``min_len`` — identical in Spark and the ANSI oracle. Plan shape at
    scale: one explode over the scan, one shuffle for (doc, term) tf, one
    for term df; the df frame (|vocabulary| rows) broadcasts back onto tf.
    The corpus size N is a one-row broadcast cross join, not a collect.
    TF-IDF is rounded to 6dp BEFORE ranking so the rank-k cut is stable
    across engines' ln() ulp differences."""
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .where(F.length("term") >= min_len)
    )
    # PIN tf (referenced by the df_ aggregation AND the score join —
    # the bm25_topk discipline): un-pinned, each reference re-ran the
    # corpus tokenize+explode+groupBy
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=False)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


def top_bigrams(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word bigrams (lowercase alpha tokenization).

    Adjacent pairs come from an index-sequence transform over the token
    array — pure JVM array ops, no self-join on position. One explode + one
    count shuffle; counts are exact ints so the top-k cut (count desc,
    bigram asc) is deterministic."""
    arr = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty
    pairs = F.when(
        F.size(F.col("__toks")) >= 2,
        F.expr(
            "transform(sequence(1, size(__toks) - 1), "
            "i -> concat(__toks[i-1], ' ', __toks[i]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(arr.alias("__toks"))
        .select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )


def pmi_collocations(
    docs: DataFrame, k: int = 20, min_count: int = 5,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    association-strength upgrade of :func:`top_bigrams`: raw frequency
    surfaces stop-word pairs ("of the"), PMI surfaces pairs that occur
    together far MORE than their unigram rates predict ("los angeles") —
    the classic phrase-mining signal (Church & Hanks 1990) used to
    protect multi-word entities during tokenizer training and chunking.

        pmi(a, b) = ln( (c_ab / M) / ((c_a / N) · (c_b / N)) )

    Determinism: counts are exact ints; the PMI ratio is assembled in
    ONE fixed-order double expression shared textually with the oracle,
    then quantized to integer micros (round half-away) — the
    adamic-adar/libm discipline — so ranking and output are
    cross-engine stable.

    Scale shape: ONE corpus scan — unigrams and bigrams are emitted as
    a single kind-tagged term stream from the same token array (one
    explode), counted by ONE map-side-combined aggregate; the
    vocab-sized count frame is localCheckpoint'd (it feeds the totals,
    unigram, and bigram branches — without the cut, each branch would
    replay the corpus scan) and the final joins are keyed vocab-vs-
    vocab, never corpus-sized. Totals ride in a ONE-ROW broadcast.

    Returns (bigram, pair_count, pmi_micro, pmi), top-k by
    (pmi_micro desc, bigram asc).
    """
    if k < 1 or min_count < 1:
        raise ValueError("k and min_count must be >= 1")
    arr = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    uni = "transform(__toks, w -> named_struct('kind', 'u', 'term', w))"
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty
    big = (
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> named_struct('kind', 'b', 'term', "
        "concat(__toks[i-1], ' ', __toks[i]))) "
        "ELSE array() END"
    )
    counts = (
        docs.select(arr.alias("__toks"))
        .select(F.explode(F.expr(f"concat({uni}, {big})")).alias("t"))
        .select(F.col("t.kind").alias("kind"), F.col("t.term").alias("term"))
        .groupBy("kind", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.sum(F.when(F.col("kind") == "u", F.col("cnt")))
        .cast("long").alias("n_uni"),
        F.sum(F.when(F.col("kind") == "b", F.col("cnt")))
        .cast("long").alias("n_big"),
    )
    cab = counts.where(
        (F.col("kind") == "b") & (F.col("cnt") >= min_count)
    ).select(
        F.col("term").alias("bigram"),
        F.col("cnt").alias("pair_count"),
        F.split(F.col("term"), " ").getItem(0).alias("__w1"),
        F.split(F.col("term"), " ").getItem(1).alias("__w2"),
    )
    cw = counts.where(F.col("kind") == "u").select(
        F.col("term").alias("__w"), F.col("cnt").alias("__cw")
    )
    u1 = cw.withColumnsRenamed({"__w": "__w1", "__cw": "__c1"})
    u2 = cw.withColumnsRenamed({"__w": "__w2", "__cw": "__c2"})
    pmi_micro = (
        "CAST(round(ln((CAST(pair_count AS DOUBLE) "
        "* CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)) "
        "/ (CAST(n_big AS DOUBLE) * CAST(__c1 AS DOUBLE) "
        "* CAST(__c2 AS DOUBLE))) * 1000000.0) AS BIGINT)"
    )
    return (
        cab.join(u1, "__w1").join(u2, "__w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram", "pair_count",
            F.expr(pmi_micro).alias("pmi_micro"),
        )
        .withColumn(
            "pmi", (F.col("pmi_micro").cast("double") / 1e6)
        )
        .orderBy(F.col("pmi_micro").desc(), F.col("bigram").asc())
        .limit(k)
    )


def benchmark_contamination(
    docs: DataFrame, eval_source: str = "wiki", n: int = 8,
) -> DataFrame:
    """Train/eval contamination check (benchmark decontamination): which
    training documents share at least one ``n``-gram with the held-out
    ``eval_source`` slice? The standard pretraining hygiene step — eval
    n-grams leak into the training corpus → inflated benchmark scores.

    Shape: tokenize once, generate n-grams with a JVM-side
    ``transform(sequence(...))`` (no explode until the gram stream), take
    the DISTINCT gram set of the (small) eval side, and semi-aggregate the
    train side against it. At 100 TB the eval-gram frame is tiny relative
    to the corpus — AQE broadcasts it, so the train side never shuffles;
    gram generation itself is a narrow map of ~|tokens| rows per doc.

    Returns (doc_id, shared_grams) for contaminated train docs only,
    shared_grams = number of DISTINCT eval n-grams the doc contains.
    """
    # Staged tokenization; the short-doc filter is a conditional empty
    # array (explode drops it) rather than a WHERE — a pushable predicate
    # on size(w) would be substituted back to size(split(text)) and
    # re-tokenize every row a second time.
    wcol = F.col("w")
    grams = F.when(
        F.size(wcol) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(wcol) - n),
            lambda i: F.concat_ws(" ", F.slice(wcol, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_grams = (
        docs.select("doc_id", "source", F.split(F.col("text"), " ")
                    .alias("w"))
        .select("doc_id", "source", F.explode(grams).alias("gram"))
    )
    eval_grams = (
        with_grams.where(F.col("source") == eval_source)
        .select("gram").distinct()
    )
    train = with_grams.where(F.col("source") != eval_source)
    return (
        train.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("shared_grams"))
    )


def repetition_score(docs: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition (Gopher-style quality rule): the fraction
    of ``n``-gram occurrences that are duplicates of an earlier occurrence
    in the same document. High values flag boilerplate / degenerate loops —
    a standard pretraining filter.

    ZERO-shuffle formulation: the statistic is purely per-document
    (total n-grams vs distinct n-grams), so it's computed with array
    expressions on each row — ``size(grams)`` and
    ``size(array_distinct(grams))`` — a narrow map that runs at scan speed
    at any corpus size. (The previous explode → groupBy(doc_id, gram)
    shape shuffled every gram occurrence: same answer, one full exchange
    of the expanded corpus for nothing.) The token array and gram array
    are STAGED projections so each is built once per row — inlining them
    into every consumer expression re-tokenized the text several times
    over (no common-subexpression elimination across aliases).
    Returns (doc_id, n_grams, dup_frac).
    """
    w = F.split(F.col("text"), " ")
    staged = docs.select("doc_id", w.alias("w")).where(
        F.size(F.col("w")) >= n
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("w")) - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
    )
    g = staged.select("doc_id", grams.alias("g"))
    total = F.size(F.col("g"))
    distinct = F.size(F.array_distinct(F.col("g")))
    return g.select(
        "doc_id",
        total.cast("long").alias("n_grams"),
        F.round((total - distinct) / total, 4)
        .cast("double").alias("dup_frac"),
    )


def _gopher_exprs(
    min_tokens: int = 20,
    max_mean_word_len: float = 10.0,
    min_stopword_frac: float = 0.02,
    max_dup_word_frac: float = 0.6,
    w=None,
):
    """(n_tokens, mean_word_len, stopword_frac, dup_word_frac, passes)
    expressions over `text` — shared by gopher_quality_rules and the
    single-pass corpus_report. Pass a pre-staged token-array column as
    ``w`` to avoid re-splitting the text."""
    if w is None:
        w = F.split(F.col("text"), " ")
    n_tokens = F.size(w).cast("long")
    mean_len = F.round(
        F.aggregate(
            w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ) / F.size(w),
        4,
    ).cast("double")
    stop_frac = F.round(
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) / F.size(w), 4
    ).cast("double")
    dup_frac = F.round(
        (F.size(w) - F.size(F.array_distinct(w))) / F.size(w), 4
    ).cast("double")
    passes = (
        (n_tokens >= min_tokens)
        & (mean_len <= max_mean_word_len)
        & (stop_frac >= min_stopword_frac)
        & (dup_frac <= max_dup_word_frac)
    )
    return n_tokens, mean_len, stop_frac, dup_frac, passes


def gopher_quality_rules(
    docs: DataFrame,
    min_tokens: int = 20,
    max_mean_word_len: float = 10.0,
    min_stopword_frac: float = 0.02,
    max_dup_word_frac: float = 0.6,
) -> DataFrame:
    """Gopher-style document quality rule bundle: token count bounds, mean
    word length, stopword fraction, duplicate-word fraction — each rule a
    pure JVM expression over one tokenization, plus the conjunction flag.
    The canonical cheap pre-filter before model-based quality scoring.

    Returns (doc_id, n_tokens, mean_word_len, stopword_frac, dup_word_frac,
    passes). Narrow map — no shuffle, full column pruning. The token
    array is a STAGED projection (one tokenization per row; inlined it
    appeared 16x in the executed plan).
    """
    staged = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    n_tokens, mean_len, stop_frac, dup_frac, passes = _gopher_exprs(
        min_tokens, max_mean_word_len, min_stopword_frac, max_dup_word_frac,
        w=F.col("w"),
    )
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        stop_frac.alias("stopword_frac"),
        dup_frac.alias("dup_word_frac"),
        passes.alias("passes"),
    )


def corpus_report(docs: DataFrame) -> DataFrame:
    """Per-source dataset card — the summary table a training-data pipeline
    publishes with every corpus snapshot: document count, token volume,
    mean quality, Gopher pass rate, and exact-duplicate rate, grouped by
    source.

    SINGLE-PASS shape: quality and rule flags are pure expressions, so all
    per-doc signals ride in one projection over one scan — no self-joins.
    The only wide ops are the md5 dedup window (the same single shuffle
    exact dedup costs) and the final groupBy. Returns (source, n_docs,
    total_tokens, mean_quality, gopher_pass_rate, dup_rate) by source.
    The token array is staged so the quality and Gopher signals share one
    tokenization per row.
    """
    staged = docs.select(
        "doc_id", "source", "text", F.split(F.col("text"), " ").alias("w")
    )
    _, _, quality = _quality_exprs(F.col("w"))
    n_tokens, _, _, _, passes = _gopher_exprs(w=F.col("w"))
    dup_w = Window.partitionBy(F.md5(F.col("text")))
    enriched = staged.select(
        "source",
        n_tokens.alias("n_tok"),
        quality.cast("double").alias("quality"),
        passes.alias("passes"),
        (F.col("doc_id") != F.min("doc_id").over(dup_w)).alias("is_dup"),
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("quality"), 4).cast("double")
            .alias("mean_quality"),
            F.round(
                F.sum(F.col("passes").cast("int")) / F.count(F.lit(1)), 4
            ).cast("double").alias("gopher_pass_rate"),
            F.round(
                F.sum(F.col("is_dup").cast("int")) / F.count(F.lit(1)), 4
            ).cast("double").alias("dup_rate"),
        )
        .orderBy("source")
    )


# Redaction patterns kept alternation-free with greedy quantifiers only, so
# Java regex (Spark, leftmost-first backtracking) and RE2-family engines
# (DuckDB/ClickHouse, leftmost-longest) find the identical matches — the
# cross-engine subset that makes the scrub oracle-replayable.
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d[\d -]{7,}\d\b", "<PHONE>"),
}


def pii_scrub(
    docs: DataFrame, patterns: dict | None = None,
) -> DataFrame:
    """PII redaction pass for corpus cleaning: replace e-mail addresses,
    IPv4 addresses, and phone-number shapes with typed placeholder tokens
    and report a per-document hit count for each category. Returns
    (doc_id, n_email, n_ipv4, n_phone, ..., clean_text).

    Counts are measured per-pattern on the RAW text (independent of one
    another); replacements are then applied sequentially in dict order, so
    an earlier category cannot hide a later category's counts. Pure
    JVM ``regexp_count``/``regexp_replace`` expressions — a narrow map with
    no shuffle; scrubbing 100 TB is scan-bound and whole-stage-codegen'd.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    counts = [
        F.regexp_count(F.col("text"), F.lit(rx)).cast("long").alias(f"n_{name}")
        for name, (rx, _) in pats.items()
    ]
    clean = F.col("text")
    for _, (rx, token) in pats.items():
        clean = F.regexp_replace(clean, rx, token)
    return docs.select("doc_id", *counts, clean.alias("clean_text"))


def line_dedup(
    lines: DataFrame, min_docs: int = 2,
    doc_col: str = "doc_id", pos_col: str = "line_no", line_col: str = "line",
) -> DataFrame:
    """C4-style exact line-level deduplication: drop every line that occurs
    in at least ``min_docs`` distinct documents (navigation chrome, cookie
    banners, licence boilerplate), then reassemble each document from its
    surviving lines in order. Input is an exploded (doc, position, line)
    frame; output is (doc_id, n_lines_kept, clean_text) — one row per input
    document, empty text when every line was boilerplate.

    Scale shape: one shuffle of the line frame keyed by line text for the
    distinct-document count (map-side combined), a left join against the
    (small — boilerplate is the point) duplicated-line set which AQE
    broadcasts, and ONE shuffle on doc_id for a conditional reassembly
    aggregation — dropped lines are excluded inside ``collect_list`` (nulls
    are skipped), so every document keeps its output row without a second
    scan or a rejoin of the doc-id universe. Nothing driver-side; the
    duplicated-line frame is the only thing that must fit an executor's
    broadcast budget, and at corpus scale it is the head of the
    line-frequency distribution, not the corpus.
    """
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    dup_lines = (
        lines.groupBy(line_col)
        .agg(F.countDistinct(doc_col).alias("df"))
        .where(F.col("df") >= min_docs)
        .select(line_col, F.lit(True).alias("_dup"))
    )
    flagged = lines.join(dup_lines, on=line_col, how="left")
    kept_struct = F.when(
        F.col("_dup").isNull(), F.struct(pos_col, line_col)
    )  # null for dropped lines -> collect_list skips them
    return flagged.groupBy(doc_col).agg(
        F.count(kept_struct).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x[line_col],
            ),
            "\n",
        ).alias("clean_text"),
    )


def feature_matrix(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """The wide per-document feature frame a quality-classifier trainer
    consumes: length, token, stopword, noise, Gopher, repetition, and
    language signals side by side — ONE narrow pass over the scan, every
    signal a shared JVM column expression (the same helpers the individual
    operators use, evaluated together so the corpus is read once instead
    of once per signal).

    Columns: doc_id, n_chars, n_tokens, mean_word_len, stop_ratio,
    noise_ratio, quality, gopher_pass, rep_dup_frac (NULL for docs shorter
    than the n-gram), lang_pred, lang_conf. No shuffle anywhere — at
    100 TB this runs at parquet-read speed with doc_id+text pruning. The
    token array and the n-gram array are STAGED projections (built once
    per row, referenced by every signal) — inlining them would tokenize
    each document ~20 times, measured 3x slower at sf0.1.
    """
    text = F.col("text")
    staged = docs.select(
        "doc_id", "text", F.split(text, " ").alias("w")
    )
    w = F.col("w")
    grams_expr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - ngram, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, ngram)),
    )
    staged = staged.select("doc_id", "text", "w", grams_expr.alias("g"))
    stop_ratio, noise_ratio, quality = _quality_exprs(w)
    n_tokens, mean_len, _stop_frac, _dup_frac, gopher_pass = _gopher_exprs(
        w=w
    )
    g = F.col("g")
    rep = F.when(
        F.size(w) >= ngram,
        F.round((F.size(g) - F.size(F.array_distinct(g))) / F.size(g), 4),
    )
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    en_hits = None
    for sw_ in STOPWORDS:
        occ = _occurrences(padded, f" {sw_} ")
        en_hits = occ if en_hits is None else en_hits + occ
    lang_conf = F.round(en_hits / F.size(w).cast("double"), 4)
    return staged.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        stop_ratio.cast("double").alias("stop_ratio"),
        noise_ratio.cast("double").alias("noise_ratio"),
        quality.cast("double").alias("quality"),
        gopher_pass.cast("boolean").alias("gopher_pass"),
        rep.cast("double").alias("rep_dup_frac"),
        F.when(lang_conf >= 0.05, "en").otherwise("und").alias("lang_pred"),
        lang_conf.cast("double").alias("lang_conf"),
    )


def corpus_drift(docs_a: DataFrame, docs_b: DataFrame) -> DataFrame:
    """Snapshot-over-snapshot dataset-card drift: run :func:`corpus_report`
    on two corpus snapshots and report per-source deltas — document-count
    ratio, token-volume ratio, and mean-quality / Gopher-pass-rate /
    dup-rate changes. The monitoring check a recurring ingestion pipeline
    runs before promoting a new snapshot ("did quality collapse? did one
    source triple?").

    A full outer join keyed by source keeps sources that appear or vanish
    (ratio NULL on the missing side). Both report legs are the single-pass
    rollup, so the whole comparison costs two corpus scans plus a
    |sources|-row join. Deltas are fixed-order double expressions over the
    reports' exact counts.
    """
    a = corpus_report(docs_a).select(
        "source",
        F.col("n_docs").alias("a_docs"),
        F.col("total_tokens").alias("a_tokens"),
        F.col("mean_quality").alias("a_quality"),
        F.col("gopher_pass_rate").alias("a_pass"),
        F.col("dup_rate").alias("a_dup"),
    )
    b = corpus_report(docs_b).select(
        "source",
        F.col("n_docs").alias("b_docs"),
        F.col("total_tokens").alias("b_tokens"),
        F.col("mean_quality").alias("b_quality"),
        F.col("gopher_pass_rate").alias("b_pass"),
        F.col("dup_rate").alias("b_dup"),
    )
    d = F.col
    return a.join(b, "source", "full_outer").select(
        "source", "a_docs", "b_docs",
        (d("b_docs").cast("double") / d("a_docs").cast("double"))
        .alias("docs_ratio"),
        (d("b_tokens").cast("double") / d("a_tokens").cast("double"))
        .alias("tokens_ratio"),
        (d("b_quality") - d("a_quality")).alias("quality_delta"),
        (d("b_pass") - d("a_pass")).alias("pass_rate_delta"),
        (d("b_dup") - d("a_dup")).alias("dup_rate_delta"),
    )


def vocab_growth(
    docs: DataFrame, n_buckets: int = 10, id_col: str = "doc_id",
) -> DataFrame:
    """Heaps-law vocabulary growth curve: split the corpus into
    ``n_buckets`` contiguous doc-id ranges and report, per prefix, the
    cumulative token volume and cumulative distinct vocabulary — the
    diversity diagnostic that shows whether new data still contributes new
    language or the corpus has saturated. Returns
    (bucket, new_words, tokens_cum, vocab_cum).

    The cumulative-distinct trap is avoided with the min-first-bucket
    trick: a word's first bucket of appearance is a plain ``min``
    aggregate, and vocab_cum(k) is then a running sum of first-appearance
    counts over the ≤ n_buckets-row rollup — one token explode + two
    map-side-combined aggregations, never a distinct count per prefix
    (which would rescan the corpus n times). Bucket assignment is integer
    arithmetic off the broadcast max id, bit-equal on any engine.
    """
    mx = docs.agg(F.max(F.col(id_col)).alias("__m"))
    d = docs.crossJoin(F.broadcast(mx)).select(
        F.expr(f"{id_col} * {n_buckets} DIV (__m + 1)").alias("bucket"),
        F.split(F.col("text"), " ").alias("w"),
    )
    toks = d.groupBy("bucket").agg(
        F.sum(F.size("w")).cast("long").alias("toks")
    )
    first_seen = (
        d.select("bucket", F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        toks.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("new_words", F.lit(0)).cast("long")
            .alias("new_words"),
            F.sum("toks").over(cum).cast("long").alias("tokens_cum"),
        )
        .withColumn(
            "vocab_cum",
            F.sum(F.coalesce("new_words", F.lit(0))).over(cum)
            .cast("long"),
        )
    )


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    gibberish/repetition quality signal: natural prose sits ~4-4.5 bits,
    base64 blobs and key-mash noise higher, template spam and repeated
    runs lower.

    Zero-shuffle narrow map, O(len·log len) per row: the staged char
    array is SORTED once and a single ``aggregate`` fold walks it
    carrying (current symbol, run length, partial H) — each run boundary
    contributes its ``(r/n)·log2(r/n)`` term.  Runs arrive in sorted-
    symbol order, so the sequence of double additions is EXACTLY the
    per-symbol ordered fold the DuckDB oracle evaluates over its
    ``list(freq ORDER BY char)`` — bit-identical despite the different
    algorithm.  (A frequency-filter formulation — ``filter`` per
    alphabet symbol — is O(len·|alphabet|) and measured ~4× slower at
    sf0.1.)  The trailing ``+ 0.0`` collapses the −0.0 of single-symbol
    documents; empty documents return entropy 0 with 0 counted chars.

    Returns (doc_id, n_chars_counted, n_distinct_chars, entropy).
    """
    staged = docs.select(
        F.col(id_col),
        F.expr(f"array_sort(split({text_col}, ''))").alias("__sc"),
    ).select(
        id_col,
        "__sc",
        F.size("__sc").cast("long").alias("n_chars_counted"),
        F.expr("CAST(size(array_distinct(__sc)) AS BIGINT)")
        .alias("n_distinct_chars"),
    )
    term = (
        "(CAST(a.r AS DOUBLE) / CAST(n_chars_counted AS DOUBLE)) "
        "* log2(CAST(a.r AS DOUBLE) / CAST(n_chars_counted AS DOUBLE))"
    )
    h = (
        "-(aggregate(__sc, "
        "struct(CAST(NULL AS STRING) AS p, CAST(0 AS BIGINT) AS r, "
        "CAST(0.0 AS DOUBLE) AS h), "
        "(a, c) -> CASE "
        "WHEN a.p IS NULL THEN struct(c AS p, CAST(1 AS BIGINT) AS r, "
        "a.h AS h) "
        "WHEN c = a.p THEN struct(a.p AS p, a.r + CAST(1 AS BIGINT) AS r, "
        "a.h AS h) "
        f"ELSE struct(c AS p, CAST(1 AS BIGINT) AS r, a.h + {term} AS h) "
        "END, "
        f"a -> CASE WHEN a.p IS NULL THEN CAST(0.0 AS DOUBLE) "
        f"ELSE a.h + {term} END)) + 0.0d"
    )
    return staged.select(
        id_col,
        "n_chars_counted",
        "n_distinct_chars",
        F.expr(
            f"CASE WHEN n_chars_counted = 0 THEN 0.0d "
            f"ELSE round({h}, 6) END"
        ).alias("entropy"),
    )


def token_jsd_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    top_n: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Jensen–Shannon divergence between two corpus snapshots' token
    distributions — the vocabulary-drift gate (0 identical, ln 2 ≈ 0.693
    disjoint, in nats): the text counterpart of :func:`stats.psi_drift`
    (numeric columns) and :func:`corpus_drift` (schema/field profiles).

    The distribution support is the ``top_n`` tokens by COMBINED count
    (ties broken by token text — deterministic), with everything else
    folded into one OTHER bucket so both distributions live on the same
    finite alphabet and sum to 1.  Each side's counts are exact integers
    from one map-side-combined shuffle; top-N selection is a TopK
    (``TakeOrderedAndProject``), not a full vocabulary sort; and the
    divergence folds the token-sorted entries (OTHER last) — the
    chi-square/PSI sorted-fold discipline, mirrored in the oracle.

    Returns one row: (n_tokens_a, n_tokens_b, vocab_n, other_a, other_b,
    jsd).
    """

    def _counts(d: DataFrame, side: str) -> DataFrame:
        return (
            d.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias(side))
        )

    comb = (
        _counts(docs_a, "ca").join(_counts(docs_b, "cb"), "w", "full")
        .select(
            "w",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    ).localCheckpoint(eager=False)  # vocab rows; tots + packed refs
    tots = comb.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    packed = (
        comb.orderBy(
            (F.col("ca") + F.col("cb")).desc(), F.col("w").asc()
        )
        .limit(top_n)
        .groupBy()
        .agg(
            F.expr("array_sort(collect_list(struct(w, ca, cb)))")
            .alias("ts"),
            F.sum("ca").alias("ta"),
            F.sum("cb").alias("tb"),
            F.count(F.lit(1)).alias("vocab_n"),
        )
    )
    # 0.5·p·ln(p/m) + 0.5·q·ln(q/m) with m = (p+q)/2; zero-probability
    # sides contribute 0. The SAME text renders with (t.ca, t.cb) for
    # vocabulary entries and (na - ta, nb - tb) for the OTHER bucket.
    def _term(a: str, b: str) -> str:
        p = f"(CAST({a} AS DOUBLE) / CAST(na AS DOUBLE))"
        q = f"(CAST({b} AS DOUBLE) / CAST(nb AS DOUBLE))"
        m = f"(({p} + {q}) / 2.0d)"
        return (
            f"(CASE WHEN {a} > 0 THEN 0.5d * {p} * ln({p} / {m}) "
            f"ELSE CAST(0.0 AS DOUBLE) END "
            f"+ CASE WHEN {b} > 0 THEN 0.5d * {q} * ln({q} / {m}) "
            f"ELSE CAST(0.0 AS DOUBLE) END)"
        )

    jsd = (
        "round(aggregate(ts, CAST(0.0 AS DOUBLE), (acc, t) -> acc + "
        + _term("t.ca", "t.cb")
        + ") + " + _term("(na - ta)", "(nb - tb)") + " + 0.0d, 6)"
    )
    return packed.crossJoin(tots).select(
        F.col("na").alias("n_tokens_a"),
        F.col("nb").alias("n_tokens_b"),
        "vocab_n",
        F.expr("na - ta").alias("other_a"),
        F.expr("nb - tb").alias("other_b"),
        F.expr(jsd).alias("jsd"),
    )


def unigram_logprob_score(
    docs: DataFrame,
    corpus: DataFrame | None = None,
    top_n: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under a corpus unigram language model —
    the perplexity-filter shape (CCNet/KenLM pipelines score documents
    against a reference LM and drop the tails) with the model reduced to
    its unigram core so the whole pipeline stays inside the engine:
    documents whose tokens are typical of the corpus score low
    bits/token, gibberish and off-domain text score high.

    The model is the ``top_n`` corpus tokens by count with a single
    shared out-of-vocabulary bucket: p(w) = c_w / (N+1) for vocabulary
    tokens and p(OOV) = (tail_mass + 1) / (N+1) for everything else
    (probabilities from EXACT integer counts — no float training).  Like
    IVF centroids and the Rademacher matrix, the fitted model is
    bounded model DATA: the top-N counts are collected once
    (2·top_n scalars) and baked into a broadcast map literal, so scoring
    is a NARROW MAP — per-row sorted-token fold of log2 terms, no join,
    no shuffle, engine-reproducible (equal tokens contribute equal
    terms, so the sorted fold's order is total where it matters).

    Pass ``corpus`` to train on a different frame than you score
    (the held-out layout); default trains on ``docs`` itself — which
    also means a STREAM can be scored against a frozen batch-fitted
    model by passing the batch frame as ``corpus``.
    Returns (doc_id, n_tokens, bits_per_token).
    """
    train = corpus if corpus is not None else docs
    counts = (
        train.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    ).persist()
    # ONE training scan: both model-extraction actions (top-N collect and
    # the total-count sum) read the persisted token counts, so the corpus
    # is tokenized exactly once regardless of how many statistics the fit
    # needs. The cache is dropped as soon as the bounded model data
    # (2*top_n scalars + one total) is on the driver.
    top = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(top_n)
    top_rows = top.collect()
    totals = counts.agg(F.sum("c").alias("n")).collect()[0]
    counts.unpersist()
    n_total = int(totals["n"] or 0)
    vocab_mass = sum(int(r["c"]) for r in top_rows)
    tail_plus1 = n_total - vocab_mass + 1
    denom = float(n_total + 1)
    map_args: list = []
    for r in top_rows:
        map_args.append(F.lit(r["w"]))
        map_args.append(F.lit(int(r["c"])).cast("long"))
    vocab_map = (
        F.create_map(*map_args) if map_args
        else F.expr("map()").cast("map<string,bigint>")
    )
    staged = docs.select(
        F.col(id_col),
        F.expr(
            f"array_sort(filter(split({text_col}, ' '), x -> x != ''))"
        ).alias("__ts"),
        vocab_map.alias("__vm"),
    )
    fold = (
        "aggregate(__ts, CAST(0.0 AS DOUBLE), (acc, w) -> acc + "
        f"log2(CAST(coalesce(element_at(__vm, w), "
        f"CAST({tail_plus1} AS BIGINT)) AS DOUBLE) / {denom!r}d))"
    )
    return staged.select(
        id_col,
        F.size("__ts").cast("long").alias("n_tokens"),
        F.expr(
            f"CASE WHEN size(__ts) = 0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE round(-({fold}) / CAST(size(__ts) AS DOUBLE) + 0.0d, 4) "
            f"END"
        ).alias("bits_per_token"),
    )


def bigram_logprob_score(
    docs: DataFrame,
    corpus: DataFrame | None = None,
    top_unigrams: int = 200,
    top_bigrams: int = 400,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stupid-backoff bigram LM scoring — the web-scale LM design
    (Brants et al. 2007: unnormalized backoff ``α·p_uni`` instead of
    discounting, chosen precisely because it suits massive MapReduce/
    Spark corpora): each document's first token is scored by the
    unigram model and every adjacent pair by ``c(w1 w2)/c(w1)`` when
    the bigram is in the model, else ``α·p_uni(w2)``.

    Model = top ``top_unigrams`` token counts (+ shared OOV bucket, as
    :func:`unigram_logprob_score`) and the top ``top_bigrams`` pair
    counts whose head is in the vocabulary — both collected once as
    bounded model data and baked into broadcast map literals; scoring
    stays a NARROW MAP (adjacent pairs built per row, sorted-pair fold
    of log2 terms, backoff resolved by map lookups).  Returns
    (doc_id, n_tokens, n_bigram_hits, bits_per_token).
    """
    train = corpus if corpus is not None else docs
    # ONE training scan: the tokenized corpus is persisted before the first
    # model-extraction action, so the unigram counts, the total-token sum,
    # and the bigram pair counts all read the cached token lists instead of
    # re-tokenizing the corpus (three full scans before this fix). The
    # unigram counts are additionally persisted — they are both collected
    # (top-N) and summed (N), and the sum over per-token counts equals the
    # total token count, so no separate size() pass is needed at all.
    from ._scaleout import fan_out

    # fan out BEFORE tokenizing: the split/filter and the two explodes
    # below otherwise run at the scan's parallelism (one task on a
    # single-row-group file); counts are exact integers, so placement
    # cannot move a value
    toks = (
        fan_out(train.select(F.col(text_col).alias("__t")))
        .select(
            F.expr(
                "filter(split(__t, ' '), x -> x != '')"
            ).alias("l")
        )
    ).persist()
    uni = (
        toks.select(F.explode("l").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ).persist()
    top_u = uni.orderBy(F.col("c").desc(), F.col("w").asc()) \
        .limit(top_unigrams).collect()
    n_total = int(uni.agg(F.sum("c").alias("n")).collect()[0]["n"] or 0)
    uni.unpersist()
    vocab = {r["w"]: int(r["c"]) for r in top_u}
    tail1 = n_total - sum(vocab.values()) + 1
    denom = float(n_total + 1)
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(l) >= 2 THEN transform("
                    "sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', "
                    "element_at(l, i + 1))) ELSE array() END"
                )
            ).alias("p")
        )
        .groupBy("p").agg(F.count(F.lit(1)).alias("c2"))
        .where(
            F.substring_index(F.col("p"), " ", 1).isin(list(vocab))
            if vocab else F.lit(False)
        )
    )
    top_b = pairs.orderBy(F.col("c2").desc(), F.col("p").asc()) \
        .limit(top_bigrams).collect()
    toks.unpersist()
    bmap = {r["p"]: int(r["c2"]) for r in top_b}

    def _map_lit(d: dict, vtype: str):
        if not d:
            return F.expr(f"map()").cast(f"map<string,{vtype}>")
        args: list = []
        for k, v in d.items():
            args.append(F.lit(k))
            args.append(F.lit(v).cast(vtype))
        return F.create_map(*args)

    # scoring is a heavy per-row fold (pair build + sort + map lookups)
    # — fan out the two working columns so it parallelizes on
    # single-row-group inputs; per-row map, placement-invariant
    staged = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.expr(
            f"filter(split({text_col}, ' '), x -> x != '')"
        ).alias("__l"),
        _map_lit(vocab, "bigint").alias("__um"),
        _map_lit(bmap, "bigint").alias("__bm"),
    ).select(
        id_col, "__l", "__um", "__bm",
        F.expr(
            "CASE WHEN size(__l) >= 2 THEN array_sort(transform("
            "sequence(1, size(__l) - 1), "
            "i -> concat(element_at(__l, i), ' ', "
            "element_at(__l, i + 1)))) ELSE array() END"
        ).alias("__ps"),
    )
    uni_term = (
        "log2(CAST(coalesce(element_at(__um, {w}), "
        f"CAST({tail1} AS BIGINT)) AS DOUBLE) / {denom!r}d)"
    )
    pair_term = (
        "CASE WHEN element_at(__bm, q) IS NOT NULL THEN "
        "log2(CAST(element_at(__bm, q) AS DOUBLE) / "
        "CAST(element_at(__um, substring_index(q, ' ', 1)) AS DOUBLE)) "
        f"ELSE log2({alpha!r}d * "
        "(CAST(coalesce(element_at(__um, substring_index(q, ' ', -1)), "
        f"CAST({tail1} AS BIGINT)) AS DOUBLE) / {denom!r}d)) END"
    )
    first = uni_term.format(w="element_at(__l, 1)")
    fold = (
        f"({first}) + aggregate(__ps, CAST(0.0 AS DOUBLE), "
        f"(acc, q) -> acc + {pair_term})"
    )
    return staged.select(
        id_col,
        F.size("__l").cast("long").alias("n_tokens"),
        F.expr(
            "CAST(size(filter(__ps, q -> element_at(__bm, q) IS NOT NULL))"
            " AS BIGINT)"
        ).alias("n_bigram_hits"),
        F.expr(
            f"CASE WHEN size(__l) = 0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE round(-({fold}) / CAST(size(__l) AS DOUBLE) + 0.0d, 4) "
            f"END"
        ).alias("bits_per_token"),
    )


def importance_weights(
    docs: DataFrame,
    target: DataFrame,
    top_n: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    source: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169, reduced to its unigram core): each document is
    scored by the average log-likelihood ratio of its tokens under a
    TARGET-domain unigram model versus the raw-corpus (source) model —
    documents that look like the target domain score high, and sampling
    proportional to the weight reweights the corpus toward the target.

    Both models are the :func:`unigram_logprob_score` construction
    (top-``top_n`` exact counts + shared OOV bucket, fitted in ONE
    persisted-scan pass each) baked into broadcast map literals, so
    scoring is a NARROW MAP: a per-row sorted-token fold of
    ``ln(p_target(w) / p_source(w))`` terms — no join, no shuffle, and
    bit-reproducible (equal tokens contribute equal terms).  The source
    model defaults to fitting on ``docs`` itself; pass ``source``
    explicitly to freeze both models on batch frames and score a
    STREAM (model fitting collects, which a streaming frame cannot).
    Returns (doc_id, n_tokens, avg_log_ratio) with NULL for token-less
    docs.
    """
    def _model(train: DataFrame):
        counts = (
            train.select(
                F.explode(F.split(F.col(text_col), " ")).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
        ).persist()
        top_rows = counts.orderBy(
            F.col("c").desc(), F.col("w").asc()).limit(top_n).collect()
        n_total = int(
            counts.agg(F.sum("c").alias("n")).collect()[0]["n"] or 0)
        counts.unpersist()
        tail1 = n_total - sum(int(r["c"]) for r in top_rows) + 1
        args: list = []
        for r in top_rows:
            args.append(F.lit(r["w"]))
            args.append(F.lit(int(r["c"])).cast("long"))
        vmap = (
            F.create_map(*args) if args
            else F.expr("map()").cast("map<string,bigint>")
        )
        return vmap, tail1, float(n_total + 1)

    tmap, t_tail, t_den = _model(target)
    smap, s_tail, s_den = _model(source if source is not None else docs)
    staged = docs.select(
        F.col(id_col),
        F.expr(
            f"array_sort(filter(split({text_col}, ' '), x -> x != ''))"
        ).alias("__ts"),
        tmap.alias("__tm"),
        smap.alias("__sm"),
    )
    term = (
        f"ln((CAST(coalesce(element_at(__tm, w), "
        f"CAST({t_tail} AS BIGINT)) AS DOUBLE) / {t_den!r}d) "
        f"/ (CAST(coalesce(element_at(__sm, w), "
        f"CAST({s_tail} AS BIGINT)) AS DOUBLE) / {s_den!r}d))"
    )
    # per-token terms quantize to exact micro-unit BIGINTs before the
    # fold: ratio terms nearly cancel, so a plain double sum lands near
    # zero where a single ULP flips the 4-decimal rounding — the integer
    # sum is exact and both engines then round the identical double
    fold = (
        f"aggregate(__ts, CAST(0 AS BIGINT), (acc, w) -> acc + "
        f"CAST(round(({term}) * 1000000.0d) AS BIGINT))"
    )
    return staged.select(
        id_col,
        F.size("__ts").cast("long").alias("n_tokens"),
        F.expr(
            f"CASE WHEN size(__ts) = 0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE round(CAST({fold} AS DOUBLE) / 1000000.0d "
            f"/ CAST(size(__ts) AS DOUBLE), 4) + 0.0d "
            f"END"
        ).alias("avg_log_ratio"),
    )


def canonicalize_url(url_col: str):
    """The URL canonicalization Column of :func:`url_normalize_dedup`,
    exposed separately: a pure narrow map (anchored regexp chain), so a
    STREAM can canonicalize and dedup with
    ``dropDuplicatesWithinWatermark`` on the returned key."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col(url_col)),
                                 "^https?://", ""),
                "^www\\.", ""),
            "[?#].*$", ""),
        "/+$", "")


def url_normalize_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every web
    crawl pipeline (CCNet/C4 both key on normalized URLs before any
    content hashing): lowercase, strip the scheme and a leading
    ``www.``, drop the query string and fragment, and trim trailing
    slashes; documents sharing a canonical URL are one page fetched many
    ways.

    All anchored ``regexp_replace`` chains (first-match == global for
    anchored patterns, so Spark's replace-all and DuckDB's replace-first
    behave identically) — a narrow map, then ONE groupBy shuffle on the
    canonical key.  Returns per canonical URL: (canonical_url, n_docs,
    n_variants, keep_id) with ``keep_id`` the lowest document id (the
    survivor-pick convention of ``dedup.exact_duplicates``).
    """
    canon = canonicalize_url(url_col)
    return (
        df.select(
            canon.alias("canonical_url"),
            F.col(url_col).alias("__raw"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("__raw").cast("long").alias("n_variants"),
            F.min("__id").alias("keep_id"),
        )
    )


def pack_documents_greedy(
    docs: DataFrame,
    budget_tokens: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Whole-document greedy bin packing (next-fit-decreasing): within
    each shard, documents sorted by (tokens desc, id asc) are packed
    sequentially into bins of ``budget_tokens``, opening a new bin when
    the current one cannot fit the next document — the no-split
    counterpart of :func:`pack_sequences` for pipelines that must keep
    documents intact (instruction tuning, eval sets).  A document longer
    than the budget gets a bin of its own rather than being dropped.

    Packing is inherently sequential, so the corpus is sharded by
    ``id % n_shards`` and each shard packs independently inside ONE
    Arrow-batched ``applyInPandas`` group (the documented exception for
    per-partition imperative logic) — parallelism and per-task memory
    are both set by ``n_shards``, which should grow with the corpus so a
    shard's (id, n_tokens) pairs fit an executor; only the two integer
    columns travel, never text.  Returns (doc_id, shard, n_tokens, bin,
    bin_fill) — ``bin_fill`` the shard-bin's running fill after placing
    the document.
    """
    import pandas as pd

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
        F.expr(
            f"CAST(size(filter(split({text_col}, ' '), x -> x != '')) "
            "AS BIGINT)"
        ).alias("n_tokens"),
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins, fills = [], []
        cur_bin, fill = 0, 0
        for i, nt in enumerate(pdf["n_tokens"]):
            nt = int(nt)
            if i == 0:
                fill = nt
            elif fill + nt <= budget_tokens:
                fill += nt
            else:
                cur_bin += 1
                fill = nt
            bins.append(cur_bin)
            fills.append(fill)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf

    schema = ("doc_id long, shard long, n_tokens long, bin long, "
              "bin_fill long")
    return toks.groupBy("shard").applyInPandas(pack, schema)


def corpus_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Snapshot-over-snapshot corpus DIFF by content fingerprint — the
    ingestion-promotion report :func:`corpus_drift` (distribution
    deltas) cannot give: exactly how many documents were added, removed,
    changed, or untouched per source between two snapshots.

    md5 fingerprints on both sides, one full outer join on the document
    id (co-partitioned shuffle), status from null-sides and fingerprint
    inequality, then a tiny (source, status) count aggregate.  Returns
    (source, status ∈ added|removed|changed|unchanged, n_docs).
    """
    def fp(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.col(source_col).alias("src"),
            F.md5(F.col(text_col)).alias("fp"),
        )

    a = fp(old).alias("a")
    b = fp(new).alias("b")
    joined = a.join(b, F.col("a.id") == F.col("b.id"), "full_outer")
    status = (
        F.when(F.col("a.id").isNull(), "added")
        .when(F.col("b.id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("b.src"), F.col("a.src")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def truncation_report(
    docs: DataFrame,
    max_tokens: int = 128,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """What a context-length cap costs, per group: documents over the
    cap, total vs kept token mass, and the loss in exact integer ppm —
    the one-aggregate report that decides a pipeline's sequence length
    (raise the cap vs chunk vs drop).  A single map-side-combined
    aggregation over per-row token counts; loss_ppm is integer ``DIV``
    arithmetic, bit-stable cross-engine.  Returns (group, n_docs,
    n_truncated, total_tokens, kept_tokens, lost_ppm).
    """
    nt = F.expr(
        f"CAST(size(filter(split({text_col}, ' '), x -> x != '')) "
        "AS BIGINT)"
    )
    staged = docs.select(F.col(group_col).alias("grp"), nt.alias("nt"))
    return (
        staged.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("nt") > max_tokens, 1).otherwise(0))
            .cast("long").alias("n_truncated"),
            F.sum("nt").cast("long").alias("total_tokens"),
            F.sum(F.least(F.col("nt"), F.lit(max_tokens)))
            .cast("long").alias("kept_tokens"),
        )
        .withColumn(
            "lost_ppm",
            F.expr(
                "(total_tokens - kept_tokens) * 1000000 "
                "DIV nullif(total_tokens, 0)"
            ),
        )
    )


def budget_allocation(
    docs: DataFrame,
    budget_tokens: int,
    cap_ppm: int = 400_000,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-budget allocation with a concentration cap —
    the data-mixing planning step (DoReMi/Pile-style recipes): give
    each source its proportional share of ``budget_tokens``, cap any
    single source at ``cap_ppm`` of the budget, and WATER-FILL the
    capped surplus: capped sources are pinned at exactly the cap and
    the remaining budget is split proportionally among the uncapped —
    iterated to the fixpoint where no uncapped source exceeds the cap.
    (A single redistribution pass can push an uncapped source past the
    cap when caps bind hard; water-filling cannot.)  ``epochs_ppm`` is
    the implied repetition factor (alloc·1e6 DIV available) — above 1e6
    means the source must repeat to fill its allocation.

    The fixpoint has a closed form — the per-token water level only
    RISES as heavy sources are pinned, so the capped set is the minimal
    stable PREFIX in (tokens desc, source asc) order: source i is
    capped iff every source before it is capped and its own would-be
    share of the then-remaining budget,
    ``(budget − cap·(i−1)) · tokens_i DIV tail_tokens_i``, still
    exceeds the cap.  A running-AND window finds that prefix in one
    pass — no recursion, exact integer arithmetic end to end, so the
    identical expression replays on any engine.

    One token-count aggregation over the corpus; everything after runs
    on the |sources|-row frame (window totals over a tiny frame — the
    documented small-frame exception to the no-global-window rule).
    Returns (source, tokens, alloc_tokens, epochs_ppm, capped).
    """
    if budget_tokens < 1 or not 0 < cap_ppm <= 1_000_000:
        raise ValueError("need budget >= 1 and 0 < cap_ppm <= 1e6")
    from pyspark.sql import Window

    nt = F.expr(
        f"CAST(size(filter(split({text_col}, ' '), x -> x != '')) "
        "AS BIGINT)"
    )
    per_src = docs.select(
        F.col(source_col).alias("source"), nt.alias("nt")
    ).groupBy("source").agg(F.sum("nt").cast("long").alias("tokens"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.orderBy(F.col("tokens").desc(), F.col("source").asc())
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    cap = budget_tokens * cap_ppm // 1_000_000
    staged = (
        per_src.withColumn("__tot", F.sum("tokens").over(wall))
        .withColumn("__i", F.row_number().over(w_ord).cast("long"))
        .withColumn(
            "__tail",
            F.col("__tot")
            - F.coalesce(
                F.sum("tokens").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "__raw",
            F.expr(
                f"coalesce(({budget_tokens} - {cap} * (__i - 1)) "
                "* tokens DIV nullif(__tail, 0), CAST(0 AS BIGINT))"
            ),
        )
        .withColumn(
            "capped",
            F.min(F.expr(f"__raw > {cap}")).over(w_run),
        )
        .withColumn(
            "__k",
            F.sum(F.when(F.col("capped"), 1).otherwise(0)).over(wall)
            .cast("long"),
        )
        .withColumn(
            "__unc_tokens",
            F.sum(F.when(~F.col("capped"), F.col("tokens"))
                  .otherwise(0)).over(wall),
        )
    )
    alloc = F.expr(
        f"CASE WHEN capped THEN CAST({cap} AS BIGINT) "
        f"ELSE coalesce(({budget_tokens} - {cap} * __k) * tokens "
        "DIV nullif(__unc_tokens, 0), CAST(0 AS BIGINT)) END"
    )
    return staged.withColumn("__alloc", alloc.cast("long")).select(
        "source", "tokens",
        F.col("__alloc").alias("alloc_tokens"),
        F.expr(
            "CASE WHEN tokens = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE __alloc * 1000000 DIV tokens END"
        ).alias("epochs_ppm"),
        "capped",
    )


def _bpe_sequential_local(
    word_counts: dict, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Plain sequential Sennrich BPE over a collected word-frequency
    dictionary — the driver-side merge loop used when the dictionary is
    bounded model data.  Tie-break (weighted count desc, lhs asc,
    rhs asc) matches the distributed path and the DuckDB oracle."""
    vocab: dict = {}
    for w, c in word_counts.items():
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + c
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs: dict = {}
        for toks, c in vocab.items():
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (l, r), wc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, wc))
        new_vocab: dict = {}
        for toks, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(toks):
                if (i + 1 < len(toks) and toks[i] == l
                        and toks[i + 1] == r):
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + c
        vocab = new_vocab
    return merges


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    batch_size: int = 16,
    local_vocab_limit: int = 200_000,
) -> DataFrame:
    """REAL byte-pair-encoding tokenizer training (Sennrich et al. 2016)
    inside the engine: learn the first ``n_merges`` BPE merge rules from
    the corpus — the step every LLM data pipeline runs before anything
    can be tokenized at all.

    The classic algorithm trains on the WORD-FREQUENCY dictionary, not
    the raw corpus: one corpus scan builds (word, count), and merge
    learning then works on that far smaller dictionary — the scale
    property that makes BPE training feasible at corpus size.  This is
    also exactly how published tokenizer trainers split the work: the
    corpus→dictionary reduction is the data-sized step (distributed,
    one scan + one shuffle here), while the dictionary itself is
    MODEL-sized.  So when the dictionary holds ≤ ``local_vocab_limit``
    distinct words (probed with a count — loud, never a silent
    truncation), it is collected as bounded model data and the merge
    loop runs as plain sequential Python on the driver: zero Spark
    jobs per merge, bit-exact Sennrich semantics by construction, and
    a 30k-merge vocab costs milliseconds, not 30k jobs.

    Above the limit the loop stays fully distributed over the
    dictionary frame.  Words are held as ``⟨tok⟩⟨tok⟩…``
    bracket-wrapped symbol strings (symbols are concatenations of
    characters, so the merged symbol is just the concatenation and the
    brackets carry the split points); each round

    1. explodes adjacent symbol pairs weighted by word count (one
       map-side-combined aggregation over the vocab frame),
    2. collects the top candidate pairs — (max weighted count, then
       lexicographic) — bounded driver model data, ≤ 3·batch_size+1
       rows per round,
    3. accepts a BATCH of merges whose sequential equivalence is
       provable (below), and applies them as chained literal
       ``replace``s on the wrapped strings: string replace is
       left-to-right non-overlapping in both engines, which is exactly
       BPE's greedy merge semantics (``⟨a⟩⟨a⟩⟨a⟩`` under (a,a) →
       ``⟨aa⟩⟨a⟩``).

    **Batched learning, bit-stable vs sequential BPE.**  One Spark job
    per merge was the classic scaling flaw here (a 30k-merge vocab =
    30k sequential jobs); this learns up to ``batch_size`` merges per
    round while provably producing the SAME merge table sequential BPE
    would.  The batch is the longest prefix of the (wcnt desc, l, r)
    candidate order that is (a) mutually symbol-disjoint, truncated at
    the first candidate sharing a symbol with an earlier acceptance,
    and (b) restricted to counts STRICTLY above that first conflict's
    count (and above the collect cut when it may hide pairs).  Why
    that is sequential-equivalent: accepted pairs are disjoint, so
    applying any prefix of them leaves the others' counts unchanged;
    every pair a merge can create or alter contains a merged symbol,
    i.e. conflicts, and all conflicting or unseen pairs sit at or
    below the conflict count — strictly below every batch member.  So
    after each applied prefix, the next batch member is still the
    global (wcnt, l, r) argmax, which is exactly sequential BPE's next
    pick.  If truncation empties the batch, the round degrades to the
    plain single-merge sequential step.  Rounds needed ≈
    n_merges / batch acceptance rate — the job count now scales with
    the vocab's conflict structure, not 1:1 with the merge count.

    The vocab frame is re-materialized each round via an eager
    ``localCheckpoint`` — which both keeps the loop from ever
    re-tokenizing the corpus AND truncates the logical-plan lineage
    (nested replace chains otherwise accumulate across rounds until
    plan stringification itself exhausts driver heap; the same
    checkpoint-cadence discipline the iterative graph operators use).
    Returns the
    learned merge table: (rank, lhs, rhs, merged, weighted_count) —
    ranks 1..n_merges in learning order, the exact artifact a tokenizer
    loads.  Assumes ``⟨``/``⟩`` do not occur in the corpus tokens
    (guard upstream for exotic corpora).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    spark = docs.sparkSession
    counts = (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ).localCheckpoint(eager=True)
    n_words = counts.count()
    if n_words <= local_vocab_limit:
        merges = _bpe_sequential_local(
            {r["w"]: int(r["cnt"]) for r in counts.collect()}, n_merges
        )
        bpe_train_merges.last_rounds = 0
        return local_frame(
            spark,
            merges,
            "rank int, lhs string, rhs string, merged string, "
            "weighted_count long",
        )
    vocab = counts.select(
        F.expr(
            "concat('⟨', array_join(transform("
            "sequence(1, length(w)), i -> substring(w, i, 1)), "
            "'⟩⟨'), '⟩')"
        ).alias("s"),
        "cnt",
    ).localCheckpoint(eager=True)
    merges = []
    cur = vocab
    top_c = 3 * batch_size + 1
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        pairs = (
            cur.select(
                F.expr(
                    "filter(split(substring(s, 2, length(s) - 2), "
                    "'⟩⟨'), x -> x != '')"
                ).alias("t"),
                "cnt",
            )
            .select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(t) >= 2 THEN transform("
                        "sequence(1, size(t) - 1), i -> struct("
                        "element_at(t, i) AS l, "
                        "element_at(t, CAST(i + 1 AS INT)) AS r)) "
                        "ELSE array() END"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("long").alias("wcnt"))
        )
        cands = pairs.orderBy(
            F.col("wcnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(top_c).collect()
        if not cands:
            break
        # sequential-equivalent batch (see docstring): disjoint prefix,
        # cut at the first symbol conflict, counts strictly above it
        accepted: list[tuple[str, str, int]] = []
        used: set[str] = set()
        conflict_wcnt = None
        for row in cands:
            l, r, w = row["l"], row["r"], int(row["wcnt"])
            if l in used or r in used:
                conflict_wcnt = w
                break
            accepted.append((l, r, w))
            used.add(l)
            used.add(r)
        else:
            if len(cands) == top_c:
                # the collect cut may hide pairs at the tail count —
                # treat the cut itself as a conflict bound
                conflict_wcnt = int(cands[-1]["wcnt"])
        if conflict_wcnt is not None:
            accepted = [t for t in accepted if t[2] > conflict_wcnt]
        if not accepted:
            # degenerate round: plain sequential step — cands[0] IS the
            # global (wcnt, l, r) argmax, unconditionally correct
            accepted = [(cands[0]["l"], cands[0]["r"],
                         int(cands[0]["wcnt"]))]
        accepted = accepted[: min(batch_size, n_merges - len(merges))]
        col = F.col("s")
        for l, r, wcnt in accepted:
            merges.append((len(merges) + 1, l, r, l + r, wcnt))
            col = F.replace(
                col, F.lit(f"⟨{l}⟩⟨{r}⟩"), F.lit(f"⟨{l}{r}⟩")
            )
        nxt = cur.select(col.alias("s"), "cnt") \
            .localCheckpoint(eager=True)
        cur = nxt
    # diagnostics for tests/benchmarks: how many Spark rounds the
    # batched learner actually needed for this merge table
    bpe_train_merges.last_rounds = rounds
    return local_frame(
        spark,
        merges,
        "rank int, lhs string, rhs string, merged string, "
        "weighted_count long",
    )


def bpe_encode_stats(
    docs: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    expr_path_max_merges: int = 100,
) -> DataFrame:
    """Apply a FROZEN BPE merge table (the output of
    :func:`bpe_train_merges`, collected) to documents and report the
    token accounting — the fit/encode split of the tokenizer: training
    collects bounded model data once, encoding is a pure NARROW MAP,
    so it runs unchanged on a stream.

    Two physically different, byte-equal narrow-map paths (chosen by
    ``expr_path_max_merges``):

    * **expression path** (≤ 100 merges by default): one literal
      ``replace`` per merge rule, chained in learning order — fully
      SQL-replayable, so the DuckDB oracle can replay it verbatim.
      Plan SIZE grows linearly with the merge count (the trainer hit
      plan-stringification OOM near ~1.3k chained nodes), so this path
      is capped;
    * **Arrow path** (above the cap): the merge table ships once as a
      broadcast list and ONE ``mapInPandas`` applies the same
      sequential-scan semantics per word — rules in learning order,
      each merging its non-overlapping occurrences left-to-right
      (exactly what a left-to-right string ``replace`` does), with a
      symbol-set skip so absent rules cost one set probe.  Plan size
      is constant in vocab; a 30k-merge real tokenizer compiles to the
      same single narrow stage as a 64-merge fixture.  No keyed
      shuffle on either path (the expression path's scale-adaptive
      fan-out may insert one round-robin repartition on small inputs;
      the Arrow path stays at scan parallelism so its per-task word
      cache is built once), still stream-safe.

    Documents are wrapped character-wise (``⟨c⟩`` per non-space
    character on the expression path, a per-word symbol list on the
    Arrow path; spaces are word boundaries so merges never cross
    them).  Returns (doc_id, n_chars, n_bpe_tokens, compression_ppm)
    — compression in exact integer ppm of symbols eliminated.
    """
    rules: list[tuple[str, str]] = []
    for m in merges:
        try:  # Rows / dicts by field name; plain (lhs, rhs) pairs by slot
            rules.append((m["lhs"], m["rhs"]))
        except (TypeError, KeyError, IndexError):
            rules.append((m[0], m[1]))
    from ._scaleout import fan_out

    if len(rules) > expr_path_max_merges:
        # do NOT fan out the Arrow path: its per-TASK word-memoization
        # cache turns the Zipfian corpus into one encode per distinct
        # word — splitting a small input into P tasks rebuilds that
        # cache P times (measured 0.3 s -> 9 s at sf0.1/32 cores), the
        # exact inverse of the fan-out trade
        return _bpe_encode_stats_arrow(
            docs.select(id_col, text_col), rules, id_col, text_col
        )
    # encoding on the expression path is a heavy per-row chain (one
    # replace per merge rule) with no cross-row state — fan out the two
    # working columns so it parallelizes on single-row-group inputs;
    # per-row narrow map, placement-invariant, no-op on streams
    docs = fan_out(docs.select(id_col, text_col))
    # the empty-text guard matters: sequence(1, 0) is DESCENDING in
    # Spark ([1, 0], not []), which would fabricate two ⟨⟩ symbols
    wrap = (
        f"CASE WHEN length({text_col}) = 0 THEN '' ELSE "
        f"array_join(transform(sequence(1, length({text_col})), i -> "
        f"CASE WHEN substring({text_col}, i, 1) = ' ' THEN ' ' "
        f"ELSE concat('⟨', substring({text_col}, i, 1), '⟩') END), '') END"
    )
    s = F.expr(wrap)
    for l, r in rules:
        s = F.replace(s, F.lit(f"⟨{l}⟩⟨{r}⟩"), F.lit(f"⟨{l}{r}⟩"))
    staged = docs.select(
        F.col(id_col),
        F.expr(
            f"CAST(length(replace({text_col}, ' ', '')) AS BIGINT)"
        ).alias("n_chars"),
        s.alias("__s"),
    )
    return staged.select(
        id_col, "n_chars",
        F.expr(
            "CAST(length(__s) - length(replace(__s, '⟨', '')) AS BIGINT)"
        ).alias("n_bpe_tokens"),
    ).withColumn(
        "compression_ppm",
        F.expr(
            "(n_chars - n_bpe_tokens) * 1000000 DIV nullif(n_chars, 0)"
        ),
    )


def _bpe_encode_stats_arrow(
    docs: DataFrame,
    rules: list,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Large-vocab BPE encode: broadcast merge ranks + ONE Arrow-batched
    ``mapInPandas`` replaying the expression path's sequential-scan
    semantics (see :func:`bpe_encode_stats`; the two paths are pinned
    byte-equal by ``tests/test_round8_ops.py``)."""
    from pyspark.sql.types import LongType, StructField, StructType

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(
        [(l, r, l + r) for l, r in rules]
    )
    id_type = docs.schema[id_col].dataType
    out_schema = StructType([
        StructField(id_col, id_type, True),
        StructField("n_chars", LongType(), True),
        StructField("n_bpe_tokens", LongType(), True),
        StructField("compression_ppm", LongType(), True),
    ])

    def _encode(batches):
        import pandas as pd

        rl = bc.value
        # word-level memoization: encoding is a pure function of the
        # word, and corpus word frequencies are Zipfian — the cache is
        # the same trick production BPE encoders use, turning the
        # per-rule scan into a one-time cost per DISTINCT word
        cache: dict[str, int] = {}

        def _word_tokens(word: str) -> int:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            if len(syms) < 2:
                cache[word] = len(syms)
                return len(syms)
            present = set(syms)
            for l, r, lr in rl:
                if l not in present or r not in present:
                    continue
                out, i, n, did = [], 0, len(syms), False
                while i < n:
                    if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                        out.append(lr)
                        did = True
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                if did:
                    syms = out
                    if len(syms) < 2:
                        break
                    present = set(syms)
            cache[word] = len(syms)
            return len(syms)

        for pdf in batches:
            ids, chars, toks, ppm = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                if text is None:
                    chars.append(None)
                    toks.append(None)
                    ppm.append(None)
                    continue
                n_chars = len(text) - text.count(" ")
                n_tok = sum(_word_tokens(w) for w in text.split(" "))
                chars.append(n_chars)
                toks.append(n_tok)
                ppm.append(
                    (n_chars - n_tok) * 1_000_000 // n_chars
                    if n_chars else None
                )
            yield pd.DataFrame({
                id_col: ids,
                "n_chars": pd.array(chars, dtype="Int64"),
                "n_bpe_tokens": pd.array(toks, dtype="Int64"),
                "compression_ppm": pd.array(ppm, dtype="Int64"),
            })

    return docs.select(id_col, text_col).mapInPandas(_encode, out_schema)


def language_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID evaluation report: the confusion matrix of
    :func:`language_id`'s prediction against the corpus' DECLARED
    ``lang`` column, with each cell's share of its declared row in
    exact integer ppm — the calibration query run before trusting a
    language filter on a new corpus (how often does declared-en text
    fail the heuristic, and what leaks in from other languages?).

    One narrow prediction map (declared lang riding through — ONE
    corpus scan, no rejoin) + one map-side-combined groupBy on
    (declared, predicted); the share window runs over the ≤
    |langs|² cell frame.  Returns (declared, predicted, n_docs,
    share_ppm) — share of the declared language's documents landing in
    each predicted bucket.
    """
    from pyspark.sql import Window

    pred = language_id(docs, keep_cols=["lang"])
    cells = (
        pred.select(F.col("lang").alias("declared"), "lang_pred")
        .groupBy("declared", F.col("lang_pred").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("declared").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return cells.withColumn(
        "share_ppm",
        F.expr(
            "n_docs * 1000000 DIV sum(n_docs) OVER "
            "(PARTITION BY declared)"
        ),
    )


def perplexity_partition(
    docs: DataFrame,
    corpus: DataFrame | None = None,
    top_unigrams: int = 200,
    top_bigrams: int = 400,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style head/middle/tail corpus partition (Wenzek et al.
    2020): score every document with the stupid-backoff bigram LM
    (:func:`bigram_logprob_score`), cut the corpus at the exact
    tertiles of bits-per-token, and report each bucket — 'head' is the
    lowest-perplexity third the pipeline keeps outright, 'tail' the
    third it drops or down-samples.

    The tertile edges are exact distributed quantiles (round-4, the
    quantile operator's convention) broadcast back onto the scored
    frame, so bucketing is a narrow map; the report is one tiny
    aggregation.  Returns (bucket, n_docs, n_tokens, share_ppm,
    lo_bits, hi_bits) — per-bucket doc/token mass with the bucket's
    observed bits-per-token range.
    """
    from .analytics import distributed_group_quantiles

    # PIN the scored frame (one narrow row per doc): it feeds BOTH the
    # tertile-edge quantiles and the bucketing — un-pinned, each
    # reference re-ran the stupid-backoff scorer (a map over the full
    # token stream against the broadcast model maps, the dominant CPU
    # here — measured 2 scoring scans at sf0.1 before this)
    scored = bigram_logprob_score(
        docs, corpus, top_unigrams, top_bigrams, alpha, id_col, text_col
    ).select("n_tokens", "bits_per_token").localCheckpoint(eager=False)
    vals = scored.select(
        F.lit(0).alias("__g"),
        F.col("bits_per_token").alias("__v"),
    ).where(F.col("__v").isNotNull())
    edges = distributed_group_quantiles(
        vals, "__g", "__v", [1 / 3, 2 / 3]
    ).select(F.col("q0").alias("e0"), F.col("q1").alias("e1"))
    bucketed = scored.crossJoin(F.broadcast(edges)).select(
        F.expr(
            "CASE WHEN bits_per_token <= e0 THEN 'head' "
            "WHEN bits_per_token <= e1 THEN 'middle' "
            "ELSE 'tail' END"
        ).alias("bucket"),
        "n_tokens", "bits_per_token",
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("bits_per_token").alias("lo_bits"),
        F.max("bits_per_token").alias("hi_bits"),
    ).localCheckpoint(eager=False)  # 3 rows; feeds the total AND output
    # total derived from the 3-row bucket frame — NOT from a second
    # pass over the bucketed corpus
    tot = per_bucket.groupBy().agg(
        F.sum("n_docs").cast("long").alias("__t")
    )
    return per_bucket.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_docs", "n_tokens",
        F.expr("n_docs * 1000000 DIV __t").alias("share_ppm"),
        "lo_bits", "hi_bits",
    )


def temperature_mix(
    docs: DataFrame,
    alpha_quarters: int = 1,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based corpus mixing weights: each source's sampling
    probability is proportional to ``tokens ** alpha`` — the standard
    multinomial alpha-sampling of multilingual/multi-source pretraining
    (mBERT/XLM-R/mT5 style): alpha < 1 up-samples small sources and
    flattens the head without the hard truncation a cap imposes.

    ``alpha`` is restricted to the quarter grid {0.25, 0.5, 0.75}
    (``alpha_quarters``/4) so the power evaluates as a composition of
    IEEE-exact operations — ``sqrt`` and multiplication are both
    correctly rounded, so ``sqrt(sqrt(t))``, ``sqrt(t)`` and
    ``sqrt(t)*sqrt(sqrt(t))`` are bit-identical on every engine, where
    a libm ``pow`` is not (the lsh_tuning_curve lesson). The weight
    normalizer is a SORTED-BY-SOURCE left fold over the |sources|-row
    frame, so the double sum has one defined evaluation order.

    One exact token-count aggregation over the corpus (map-side
    combined BIGINT sums); everything after runs on the |sources|-row
    frame (window totals over a tiny frame — the documented
    small-frame exception to the no-global-window rule). Returns
    (source, n_docs, tokens, natural_ppm, mix_share, boost) where
    ``natural_ppm`` is the exact integer token share, ``mix_share``
    the alpha-weighted sampling probability, and ``boost`` the
    up/down-sampling factor versus natural.
    """
    if alpha_quarters not in (1, 2, 3):
        raise ValueError("alpha_quarters must be 1, 2 or 3 "
                         "(alpha = 0.25 / 0.5 / 0.75)")
    w_of = {
        1: "sqrt(sqrt(CAST(tokens AS DOUBLE)))",
        2: "sqrt(CAST(tokens AS DOUBLE))",
        3: "sqrt(CAST(tokens AS DOUBLE)) * sqrt(sqrt(CAST(tokens AS DOUBLE)))",
    }[alpha_quarters]
    nt = F.expr(
        f"CAST(size(filter(split({text_col}, ' '), x -> x != '')) "
        "AS BIGINT)"
    )
    per = (
        docs.select(F.col(source_col).alias("source"), nt.alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("tokens"),
        )
        .withColumn("__w", F.expr(w_of))
    )
    # one-row totals frame broadcast back. NOTE: the obvious
    # window-function form (collect_list().over(whole-frame) + a later
    # projection folding it) silently mis-resolves the weight column to
    # the fold result under Spark 4.1's analyzer once column pruning
    # removes the standalone weight from the Window's input — the
    # alias-qualified crossJoin below is the shape that resolves
    # correctly (and is also what budget-bounded model data should be:
    # an explicit tiny frame, not window state)
    tot = per.agg(
        F.sum("tokens").cast("long").alias("__T"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, __w))), "
            "CAST(0.0 AS DOUBLE), (a, s) -> a + s.__w)"
        ).alias("__W"),
    )
    j = per.alias("p").crossJoin(F.broadcast(tot).alias("t"))
    return j.select(
        F.col("p.source").alias("source"),
        F.col("p.n_docs").alias("n_docs"),
        F.col("p.tokens").alias("tokens"),
        F.expr("(p.tokens * 1000000) DIV t.__T").cast("long")
        .alias("natural_ppm"),
        F.round(F.col("p.__w") / F.col("t.__W"), 6).alias("mix_share"),
        F.round(
            (F.col("p.__w") / F.col("t.__W"))
            * (F.col("t.__T").cast("double")
               / F.col("p.tokens").cast("double")),
            6,
        ).alias("boost"),
    )


def naive_bayes_language(
    docs: DataFrame,
    vocab_size: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """Multinomial Naive Bayes language classifier — train on the
    labeled corpus, predict per document. The supervised counterpart
    of the heuristic :func:`language_id`: real class-conditional token
    statistics instead of hand-picked stopword lists, and the simplest
    model in the fastText-classifier family used for corpus language
    routing at scale.

    TRAIN (one tokenize scan + bounded collects): class priors from
    document counts, a top-``vocab_size`` vocabulary by total token
    count (ties token-asc), and add-one-smoothed per-class token
    counts — V x |langs| integers, collected as bounded model data and
    baked into ONE broadcast map literal (token -> array of smoothed
    counts, langs sorted asc).

    PREDICT is a pure NARROW MAP (the DSIR discipline — no join, no
    shuffle, stream-safe): per document one sorted-token fold adds the
    micro-unit quantized ``round(ln(smoothed_count) * 1e6)`` term
    arrays elementwise (OOV tokens hit the all-ones array: ln(1) = 0),
    then the per-class normalizer ``n_tokens * round(ln(N_l+V+1)*1e6)``
    and prior ``round(ln(d_l/D)*1e6)`` adjust each lane. All sums are
    exact BIGINTs, so the score is engine-independent up to one ln ULP
    absorbed by the micro rounding, and the argmax (first-max index =
    score desc, lang asc) is deterministic.

    Pass ``score_docs`` to freeze the model on ``docs`` and score a
    different frame (or a stream). Returns
    (doc_id, declared, predicted, score_micro, n_tokens).
    """
    toks = (
        docs.select(
            F.col(label_col).alias("lang"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    counts = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    lang_rows = sorted(
        docs.groupBy(F.col(label_col).alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .collect(),
        key=lambda r: r["lang"],
    )
    langs = [r["lang"] for r in lang_rows]
    d_of = {r["lang"]: int(r["d"]) for r in lang_rows}
    d_total = sum(d_of.values())
    vocab_rows = (
        counts.groupBy("w")
        .agg(F.sum("c").cast("long").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("w").asc())
        .limit(vocab_size)
        .collect()
    )
    vocab = [r["w"] for r in vocab_rows]
    cnt_rows = counts.where(F.col("w").isin(vocab)).collect()
    counts.unpersist()
    c_of = {(r["lang"], r["w"]): int(r["c"]) for r in cnt_rows}
    n_of = {
        lang: sum(c_of.get((lang, w), 0) for w in vocab) for lang in langs
    }
    map_args: list = []
    for w in vocab:
        map_args.append(F.lit(w))
        map_args.append(F.array(*[
            F.lit(c_of.get((lang, w), 0) + 1).cast("long")
            for lang in langs
        ]))
    model_map = (
        F.create_map(*map_args) if map_args
        else F.expr("map()").cast("map<string,array<bigint>>")
    )
    n_lang = len(langs)
    oov = "array(" + ", ".join(["CAST(1 AS BIGINT)"] * n_lang) + ")"
    den = "array(" + ", ".join(
        f"CAST(round(ln(CAST({n_of[lang] + len(vocab) + 1} AS DOUBLE)) "
        "* 1000000.0d) AS BIGINT)"
        for lang in langs
    ) + ")"
    pri = "array(" + ", ".join(
        f"CAST(round(ln(CAST({d_of[lang]} AS DOUBLE) "
        f"/ CAST({d_total} AS DOUBLE)) * 1000000.0d) AS BIGINT)"
        for lang in langs
    ) + ")"
    zero = "array(" + ", ".join(["CAST(0 AS BIGINT)"] * n_lang) + ")"
    target = score_docs if score_docs is not None else docs
    staged = target.select(
        F.col(id_col),
        F.col(label_col).alias("declared"),
        F.expr(
            f"array_sort(filter(split({text_col}, ' '), x -> x != ''))"
        ).alias("__ts"),
        model_map.alias("__m"),
    )
    fold = (
        f"aggregate(__ts, {zero}, (acc, w) -> "
        f"zip_with(acc, coalesce(element_at(__m, w), {oov}), "
        "(a, c) -> a + CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0d) "
        "AS BIGINT)))"
    )
    scores = (
        f"zip_with(zip_with({fold}, {den}, "
        "(s, dn) -> s - CAST(size(__ts) AS BIGINT) * dn), "
        f"{pri}, (s, p) -> s + p)"
    )
    lang_arr = "array(" + ", ".join(f"'{lang}'" for lang in langs) + ")"
    # stage the score array: the argmax references it three times, and
    # binding it to a column (not re-inlining the fold) is the
    # CollapseProject lesson — the producer is non-cheap and
    # multiply-referenced, so Catalyst keeps the projection
    scored = staged.select(
        id_col, "declared", "__ts", F.expr(scores).alias("__sc")
    )
    return scored.select(
        id_col, "declared",
        F.expr(
            f"element_at({lang_arr}, "
            f"CAST(array_position(__sc, array_max(__sc)) AS INT))"
        ).alias("predicted"),
        F.expr("array_max(__sc)").cast("long").alias("score_micro"),
        F.size("__ts").cast("long").alias("n_tokens"),
    )


def domain_quota_sample(
    docs: DataFrame,
    domain_col: str = "source",
    quota: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document caps — the FineWeb-style guard against a
    handful of giant hosts dominating a crawl-derived corpus: each
    domain keeps at most ``quota`` documents, chosen by a DETERMINISTIC
    hash order (md5 of the id — engine-portable, unlike engine-native
    hash functions) so re-runs and the SQL oracle pick the same
    survivors; everything about the sample is replayable.

    ONE keyed window shuffle on the domain (WindowGroupLimit prunes to
    the per-partition top-``quota`` BEFORE the exchange, so the wire
    carries ≤ quota · partitions rows per domain, not the domain's full
    payload).  Returns the surviving rows with their ``pick_rank``.
    """
    if quota < 1:
        raise ValueError("quota must be >= 1")
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("pick_rank", F.row_number().over(w))
        .where(F.col("pick_rank") <= quota)
    )


def boilerplate_prefixes(
    docs: DataFrame,
    n_tokens: int = 2,
    min_docs: int = 3,
    top: int = 20,
    text_col: str = "text",
    side: str = "head",
) -> DataFrame:
    """Boilerplate opener/closer mining: the most common first (or
    last) ``n_tokens`` across the corpus — repeated document heads and
    tails are the signature of templated boilerplate (cookie banners,
    license footers, nav headers) that passage-level dedup misses when
    the rest of the page differs.

    One narrow prefix projection + ONE hash aggregation; the top cut
    is (count desc, prefix asc) — deterministic.  Returns
    (prefix, n_docs, rank) for prefixes shared by ≥ ``min_docs``.
    """
    if side not in ("head", "tail"):
        raise ValueError("side must be 'head' or 'tail'")
    if side == "head":
        pfx = f"array_join(slice(split({text_col}, ' '), 1, {n_tokens}), ' ')"
    else:
        pfx = (
            f"array_join(slice(split({text_col}, ' '), -{n_tokens}, "
            f"{n_tokens}), ' ')"
        )
    from pyspark.sql import Window

    counted = (
        docs.where(F.col(text_col).isNotNull())
        .where(F.expr(f"size(split({text_col}, ' ')) >= {n_tokens}"))
        .groupBy(F.expr(pfx).alias("prefix"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("prefix").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval (Robertson-Spärck Jones): the top-``k`` documents
    for a bag-of-words query — the lexical half of every hybrid
    retrieval stack, and the scoring function behind benchmark-corpus
    decontamination lookups.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·|d|/avgdl))``
    with the Lucene idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``.

    Scale shape: one tokenize scan filtered TO THE QUERY TERMS before
    the (doc, term) aggregation — the exchange carries only matching
    postings, not the corpus vocabulary; df/avgdl are term-count /
    one-row broadcast frames; the final per-doc sum is one hash
    aggregate.  Scores round to 6 BEFORE ranking (ties → doc asc) so
    the cut is deterministic across engines' ln ULPs — the TF-IDF
    discipline.  Returns (doc_id, score, rank).
    """
    terms = sorted(set(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"))
        .alias("term"),
    ).where(F.col("term") != "")
    # PIN the two tiny aggregates referenced twice each (dl: stats agg
    # + the score join; tf: the df_ agg + the score join) — un-pinned,
    # each reference re-ran the full corpus tokenize+explode: 4 corpus
    # scans per query instead of 2 (the minhash-signature pin class)
    dl = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl")) \
        .localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_len"),
    )
    qt = toks.where(F.col("term").isin(terms))
    tf = qt.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")) \
        .localCheckpoint(eager=False)
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.expr(
                "round(ln(1.0d + (CAST(n_docs AS DOUBLE) "
                "- CAST(df AS DOUBLE) + 0.5d) "
                "/ (CAST(df AS DOUBLE) + 0.5d)) "
                f"* (CAST(tf AS DOUBLE) * ({k1!r}d + 1.0d)) "
                f"/ (CAST(tf AS DOUBLE) + {k1!r}d * (1.0d - {b!r}d "
                f"+ {b!r}d * CAST(dl AS DOUBLE) "
                "* CAST(n_docs AS DOUBLE) / CAST(tot_len AS DOUBLE))), 6)"
            ).alias("__t"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        # per-term contributions are round-6 → micro-unit BIGINTs sum
        # exactly; one conversion back at the end
        (F.sum(F.expr("CAST(round(__t * 1000000.0d) AS BIGINT)"))
         .cast("double") / F.lit(1000000.0)).alias("score")
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def rrf_fuse(
    results_a: DataFrame,
    results_b: DataFrame,
    k: int = 60,
    topk: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    result lists — the standard way to combine lexical (BM25) and
    vector (ANN) retrieval without score calibration:
    ``rrf(d) = Σ_lists 1/(k + rank_d)``, missing-from-list contributes
    nothing.

    One union + one hash aggregation; fused scores are exact integer
    micro-units of the 1/(k+r) terms so the sum is order-independent
    and engine-identical.  Returns (doc_id, rrf_score, fused_rank)
    top-``topk``.
    """
    parts = []
    for side in (results_a, results_b):
        parts.append(side.select(
            F.col(id_col),
            F.expr(
                f"CAST(round(1000000.0d / ({k}.0d "
                f"+ CAST({rank_col} AS DOUBLE))) AS BIGINT)"
            ).alias("__c"),
        ))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (
        parts[0].unionByName(parts[1])
        .groupBy(id_col)
        .agg((F.sum("__c").cast("double") / F.lit(1000000.0))
             .alias("rrf_score"))
        .withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= topk)
    )


def grouped_hash_split(
    docs: DataFrame,
    group_col: str = "source",
    train: float = 0.9,
    val: float = 0.05,
    salt: str = "gsplit",
) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: the hash is taken over
    the GROUP (domain, author, dedup-cluster id …), so every document
    of a group lands in the same split — the split discipline that
    keeps near-duplicates and same-source boilerplate from straddling
    the train/test boundary and inflating eval numbers.  Same exact
    60-bit md5 thresholds as :func:`hash_split`, same narrow-map plan
    (no shuffle — group membership is already on the row).  Returns
    the input columns + (bucket, split).
    """
    if not (0 < train < 1 and 0 <= val < 1 and train + val < 1):
        raise ValueError("need 0 < train, 0 <= val, train + val < 1")
    scale = 1 << _SPLIT_BITS
    t_train = int(train * scale)
    t_val = t_train + int(val * scale)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(group_col).cast("string"),
                           F.lit(":" + salt))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return docs.withColumn("bucket", h).withColumn(
        "split",
        F.when(F.col("bucket") < t_train, "train")
        .when(F.col("bucket") < t_val, "val")
        .otherwise("test"),
    )


def vocab_coverage(
    docs: DataFrame, ks: list[int] | None = None,
) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token
    OCCURRENCES the top-k most frequent types cover, for each budget
    in ``ks`` — the tokenizer-sizing companion to :func:`vocab_growth`
    (Zipfian corpora cover ~90%+ with a few thousand types; where the
    curve flattens is where growing the vocab stops paying).

    ONE corpus scan into a token-frequency hash aggregate (map-side
    combined, vocab-sized output); the full-vocab totals are a plain
    1-row aggregate, and only the top-``max(ks)`` head is ranked — an
    ``orderBy().limit()`` TakeOrderedAndProject (per-partition top-k,
    ordered (count desc, token asc) for a deterministic total order)
    followed by a row_number over the ≤max(ks)-row head.  The vocab
    frame itself is never globally ranked: at web-corpus scale the raw
    type vocabulary (URLs, typos, hashes) is effectively unbounded,
    while the head the coverage curve needs is a few thousand rows.
    All counts exact BIGINTs; coverage is one fixed-order double
    rounded to 6.

    Returns one row per k: (k, vocab_size, total_tokens,
    covered_tokens, coverage), ordered by k.
    """
    from pyspark.sql import Window

    ks = sorted(set(ks or [10, 100, 1000, 10000]))
    if not ks or ks[0] < 1:
        raise ValueError("ks must be positive")
    freq = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != "",
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = freq.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("cnt").cast("long").alias("total_tokens"),
    )
    head = freq.orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    ).limit(ks[-1])
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = head.select(
        "cnt", F.row_number().over(w_rank).alias("__r")
    )
    spine = local_frame(
        docs.sparkSession,
        [(int(k),) for k in ks], "k long"
    )
    return (
        spine.crossJoin(ranked)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("__r") <= F.col("k"), F.col("cnt"))
                  .otherwise(F.lit(0))).cast("long")
            .alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "k", "vocab_size", "total_tokens", "covered_tokens",
            F.expr(
                "round(CAST(covered_tokens AS DOUBLE) "
                "/ nullif(CAST(total_tokens AS DOUBLE), 0.0), 6)"
            ).alias("coverage"),
        )
        .orderBy("k")
    )


def lexical_diversity(
    docs: DataFrame, group_col: str = "source",
) -> DataFrame:
    """Lexical diversity per group: type–token ratio and hapax share —
    the corpus-linguistics health metrics (a template-generated or
    heavily-duplicated source shows a collapsing TTR; a scraped-noise
    source shows a hapax share near 1) read alongside
    :func:`vocab_coverage` before mixing sources into a training run.

    ONE corpus scan to (group, token) counts (map-side combined,
    vocab-per-group sized), then one per-group aggregate over that
    frame.  All counts exact BIGINTs; ratios are fixed-order doubles
    rounded to 6.

    Returns one row per group: (group, n_tokens, n_types, ttr,
    hapax_types, hapax_share), ordered by group.
    """
    freq = (
        docs.where(f"({group_col}) IS NOT NULL AND text IS NOT NULL")
        .select(
            F.expr(f"CAST(({group_col}) AS STRING)").alias("group"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != "",
                )
            ).alias("tok"),
        )
        .groupBy("group", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        freq.groupBy("group")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.expr("CASE WHEN cnt = 1 THEN 1 ELSE 0 END"))
            .cast("long").alias("hapax_types"),
        )
        .select(
            "group", "n_tokens", "n_types",
            F.expr(
                "round(CAST(n_types AS DOUBLE) "
                "/ nullif(CAST(n_tokens AS DOUBLE), 0.0), 6)"
            ).alias("ttr"),
            "hapax_types",
            F.expr(
                "round(CAST(hapax_types AS DOUBLE) "
                "/ nullif(CAST(n_types AS DOUBLE), 0.0), 6)"
            ).alias("hapax_share"),
        )
        .orderBy("group")
    )


def term_burstiness(
    docs: DataFrame, k: int = 20, min_cf: int = 10,
) -> DataFrame:
    """Term burstiness (Church & Gale 1995): content words CLUMP — when
    a document mentions a term once it tends to mention it again — so
    their document frequency falls far below the Poisson prediction
    from the collection frequency, while function words track it.
    Reported per term: ``burst = cf / df`` (mean occurrences per
    containing doc) and the Poisson-expected document frequency
    ``N · (1 − e^(−cf/N))`` with the observed/expected clump ratio —
    the signal that separates topical vocabulary from glue, used to
    pick keyword candidates and spot template spam (anomalously bursty
    boilerplate tokens).

    ONE corpus scan: (doc, token) pairs feed a single vocab-keyed
    aggregate computing cf (count) and df (distinct docs via exact
    count-distinct on the pre-deduped pair frame); the doc total rides
    a ONE-ROW broadcast.  Ratios quantize ``exp``-terms to integer
    micros (the libm discipline).  Returns top-``k`` terms with
    ``cf >= min_cf`` by (burst desc, term asc): (term, cf, df,
    burst_micro, burst, exp_df_micro, clump_micro, clump).
    """
    if k < 1 or min_cf < 1:
        raise ValueError("k and min_cf must be >= 1")
    pairs = docs.where("text IS NOT NULL").select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    stats = (
        pairs.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cf"),
            F.countDistinct("doc_id").cast("long").alias("df"),
        )
        .where(F.col("cf") >= min_cf)
    )
    n_docs = docs.where("text IS NOT NULL").agg(
        F.count(F.lit(1)).cast("long").alias("__nd")
    )
    exp_df = (
        "CAST(round(CAST(__nd AS DOUBLE) * (1.0d - exp(0.0d "
        "- CAST(cf AS DOUBLE) / CAST(__nd AS DOUBLE))) "
        "* 1000000.0d) AS BIGINT)"
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            F.col("tok").alias("term"), "cf", "df",
            F.expr(
                "CAST(round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) "
                "* 1000000.0d) AS BIGINT)"
            ).alias("burst_micro"),
            F.expr(exp_df).alias("exp_df_micro"),
        )
        .withColumn("burst", F.col("burst_micro").cast("double") / 1e6)
        .withColumn(
            "clump_micro",
            F.expr(
                "CAST(round(CAST(df AS DOUBLE) "
                "/ nullif(CAST(exp_df_micro AS DOUBLE) / 1000000.0d, "
                "0.0d) * 1000000.0d) AS BIGINT)"
            ),
        )
        .withColumn("clump", F.col("clump_micro").cast("double") / 1e6)
        .orderBy(F.col("burst_micro").desc(), F.col("term").asc())
        .limit(k)
    )


def distinctive_terms(
    docs: DataFrame,
    group_col: str = "source",
    target: str | None = None,
    alpha_milli: int = 10,
    k: int = 15,
) -> DataFrame:
    """Distinctive vocabulary of one group vs the rest — Monroe,
    Colaresi & Quinn's "Fightin' Words" log-odds with a Dirichlet
    prior: the corpus-comparison tool that beats raw TF-IDF for
    "what does THIS source talk about that others don't", because the
    prior shrinks rare-word noise and the z-score normalizes by
    uncertainty::

        δ_w = ln( (y_tw + a) / (n_t + A − y_tw − a) )
            − ln( (y_rw + a) / (n_r + A − y_rw − a) )
        z_w = δ_w / sqrt(1/(y_tw + a) + 1/(y_rw + a))

    with per-word prior ``a = alpha_milli/1000`` and ``A = a·|vocab|``.

    ONE corpus scan to (group side, term) counts (the target flag is
    folded into the aggregate — no second pass), vocab-frame windows
    for the totals, ln/sqrt terms micro-quantized.  Returns the top-k
    most TARGET-distinctive and top-k most REST-distinctive terms:
    (term, n_target, n_rest, z_micro, z, side), ordered by
    (side, z_micro desc).
    """
    from pyspark.sql import Window

    if k < 1 or alpha_milli < 1:
        raise ValueError("k and alpha_milli must be >= 1")
    if target is None:
        raise ValueError("target group value is required")
    tflag = f"CAST(({group_col}) AS STRING) = '{target}'"
    counts = (
        docs.where(f"text IS NOT NULL AND ({group_col}) IS NOT NULL")
        .select(
            F.expr(f"({tflag})").alias("__t"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != "",
                )
            ).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.expr("CAST(sum(CASE WHEN __t THEN 1 ELSE 0 END) "
                   "AS BIGINT)").alias("n_target"),
            F.expr("CAST(sum(CASE WHEN __t THEN 0 ELSE 1 END) "
                   "AS BIGINT)").alias("n_rest"),
        )
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    a = f"({alpha_milli}.0d / 1000.0)"
    staged = (
        counts
        .withColumn("__nt", F.sum("n_target").over(w).cast("long"))
        .withColumn("__nr", F.sum("n_rest").over(w).cast("long"))
        .withColumn("__v", F.count(F.lit(1)).over(w).cast("long"))
    )
    big_a = f"({a} * CAST(__v AS DOUBLE))"
    delta = (
        f"(ln((CAST(n_target AS DOUBLE) + {a}) "
        f"/ (CAST(__nt AS DOUBLE) + {big_a} "
        f"- CAST(n_target AS DOUBLE) - {a})) "
        f"- ln((CAST(n_rest AS DOUBLE) + {a}) "
        f"/ (CAST(__nr AS DOUBLE) + {big_a} "
        f"- CAST(n_rest AS DOUBLE) - {a})))"
    )
    z = (f"(({delta}) / sqrt(1.0 / (CAST(n_target AS DOUBLE) + {a}) "
         f"+ 1.0 / (CAST(n_rest AS DOUBLE) + {a})))")
    scored = staged.withColumn(
        "z_micro", F.expr(f"CAST(round(({z}) * 1000000.0) AS BIGINT)")
    ).withColumn("z", F.col("z_micro").cast("double") / 1e6)
    top = (
        scored.withColumn(
            "__r", F.row_number().over(
                Window.orderBy(F.col("z_micro").desc(),
                               F.col("term").asc())))
        .where(F.col("__r") <= k)
        .withColumn("side", F.lit("target"))
    )
    bot = (
        scored.withColumn(
            "__r", F.row_number().over(
                Window.orderBy(F.col("z_micro").asc(),
                               F.col("term").asc())))
        .where(F.col("__r") <= k)
        .withColumn("side", F.lit("rest"))
    )
    return (
        top.unionByName(bot)
        .select("term", "n_target", "n_rest", "z_micro", "z", "side")
        .orderBy("side", F.col("z_micro").desc(), F.col("term").asc())
    )


# ---------------------------------------------------------------------------
# Round 9: readability and Zipf diagnostics
# ---------------------------------------------------------------------------


def reading_ease(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading ease per group, with a deterministic
    syllable heuristic — the classic readability screen a training-mix
    builder reads next to :func:`quality_score` (a source whose mean
    FRE collapses is trending toward jargon/boilerplate; one far above
    110 is likely word salad)::

        FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    Heuristics, all built-in regex (cross-engine replayable, no
    dictionary): words = non-empty whitespace tokens; sentences =
    ``[.!?]+`` runs (min 1); syllables = ``[aeiouy]+`` vowel groups in
    the lowercased text.  Per-doc FRE quantizes to micro before the
    exact per-group sums (the shared discipline); docs with zero words
    are excluded.  ONE corpus scan, one group-sized aggregate.

    Returns one row per group: (group, n_docs, words_per_sentence,
    syllables_per_word, avg_fre), ordered by group.
    """
    w = (
        f"CAST(size(filter(split({text_col}, ' '), x -> x != '')) "
        "AS DOUBLE)"
    )
    s = (
        f"CAST(greatest(size(regexp_extract_all({text_col}, "
        "'[.!?]+', 0)), 1) AS DOUBLE)"
    )
    y = (
        f"CAST(size(regexp_extract_all(lower({text_col}), "
        "'[aeiouy]+', 0)) AS DOUBLE)"
    )
    fre = (
        f"(206.835d - 1.015d * ({w} / {s}) - 84.6d * ({y} / {w}))"
    )
    per_doc = docs.where(
        f"{text_col} IS NOT NULL AND size(filter(split({text_col}, "
        "' '), x -> x != '')) > 0"
    ).select(
        F.col(group_col).alias("group"),
        F.expr(f"CAST(round({w}) AS BIGINT)").alias("__w"),
        F.expr(f"CAST(round({s}) AS BIGINT)").alias("__s"),
        F.expr(f"CAST(round({y}) AS BIGINT)").alias("__y"),
        F.expr(f"CAST(round(({fre}) * 1000000.0d) AS BIGINT)")
        .alias("__fre_micro"),
    )
    return (
        per_doc.groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__w").alias("__tw"),
            F.sum("__s").alias("__ts"),
            F.sum("__y").alias("__ty"),
            F.sum("__fre_micro").alias("__tf"),
        )
        .select(
            "group", "n_docs",
            F.expr(
                "CAST(round(CAST(__tw AS DOUBLE) "
                "/ CAST(__ts AS DOUBLE) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("words_per_sentence"),
            F.expr(
                "CAST(round(CAST(__ty AS DOUBLE) "
                "/ CAST(__tw AS DOUBLE) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("syllables_per_word"),
            F.expr(
                "CAST(round(CAST(__tf AS DOUBLE) "
                "/ CAST(n_docs AS DOUBLE)) AS BIGINT) / 1e6"
            ).cast("double").alias("avg_fre"),
        )
        .orderBy("group")
    )


def zipf_fit(
    docs: DataFrame,
    top_k: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Zipf-law fit over the frequency head: OLS of ``ln(freq)`` on
    ``ln(rank)`` for the top-``top_k`` token types — natural corpora
    sit near slope −1; a slope far shallower flags template/boilerplate
    inflation of mid-ranks, far steeper flags a tiny effective
    vocabulary.  The companion diagnostic to :func:`vocab_coverage`.

    ONE corpus scan to the token-frequency aggregate; only the
    ``orderBy().limit(top_k)`` head is ranked (TakeOrderedAndProject —
    never a global rank of the unbounded type vocabulary, the
    :func:`vocab_coverage` discipline), then the OLS moments are exact
    integer sums of nano-quantized ``ln`` terms over the ≤top_k-row
    frame.  Returns one row: (k_used, total_tokens_in_head, slope,
    intercept, r2).
    """
    from pyspark.sql import Window

    if top_k < 3:
        raise ValueError("top_k must be >= 3")
    freq = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                    lambda x: x != "",
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    head = freq.orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    ).limit(top_k)
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    pts = head.select(
        "cnt",
        F.row_number().over(w_rank).cast("long").alias("r"),
    ).select(
        "cnt",
        F.expr(
            "CAST(round(ln(CAST(r AS DOUBLE)) * 1000000000.0d) "
            "AS BIGINT)"
        ).alias("lx_nano"),
        F.expr(
            "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000000.0d) "
            "AS BIGINT)"
        ).alias("ly_nano"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum("cnt").cast("long").alias("total_tokens_in_head"),
        # cast BEFORE multiplying: two nano-scaled lns multiply to
        # ~1.3e20, past int64 — the product must form in DECIMAL(38,0)
        *[F.expr(f"CAST(sum({e}) AS DECIMAL(38,0))").alias(a)
          for e, a in (
              ("CAST(lx_nano AS DECIMAL(38,0))", "sx"),
              ("CAST(ly_nano AS DECIMAL(38,0))", "sy"),
              ("CAST(lx_nano AS DECIMAL(38,0)) * ly_nano", "sxy"),
              ("CAST(lx_nano AS DECIMAL(38,0)) * lx_nano", "sxx"),
              ("CAST(ly_nano AS DECIMAL(38,0)) * ly_nano", "syy"))],
    ).select(
        "k_used", "total_tokens_in_head",
        F.col("k_used").cast("double").alias("n_d"),
        *[(F.col(c).cast("double") / F.lit(1e9 if c in ("sx", "sy")
                                           else 1e18)).alias(f"{c}_d")
          for c in ("sx", "sy", "sxy", "sxx", "syy")],
    )
    slope = ("((n_d * sxy_d - sx_d * sy_d) "
             "/ nullif(n_d * sxx_d - sx_d * sx_d, 0.0d))")
    icpt = f"((sy_d - ({slope}) * sx_d) / n_d)"
    r2 = ("((n_d * sxy_d - sx_d * sy_d) * (n_d * sxy_d - sx_d * sy_d) "
          "/ nullif((n_d * sxx_d - sx_d * sx_d) "
          "* (n_d * syy_d - sy_d * sy_d), 0.0d))")
    return m.select(
        "k_used", "total_tokens_in_head",
        F.expr(
            f"CAST(round(({slope}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("slope"),
        F.expr(
            f"CAST(round(({icpt}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("intercept"),
        F.expr(
            f"CAST(round(({r2}) * 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("r2"),
    )


def _ngram_kind_stream(docs: DataFrame, max_n: int) -> DataFrame:
    """Shared kind-tagged n-gram stream for the distinct-n family:
    one corpus scan, every n = 1..max_n emitted from the same token
    array (the PMI shape).  Returns (n, g).

    The tokenized projection is fanned out BEFORE the explode (the
    ``_scaleout.fan_out`` discipline: project to the one working
    column first so the exchange carries token arrays, not payload
    rows; a no-op once the scan alone splits into >= cores tasks) —
    the n-gram window/concat explode and every downstream hash are
    the compute-heavy part, and a single-row-group input would
    otherwise run them on one task."""
    from ._scaleout import fan_out

    if max_n < 1:
        raise ValueError("max_n must be >= 1")
    arr = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    grams = []
    for n in range(1, max_n + 1):
        # sequence(1, 0) is DESCENDING in Spark — guard short docs
        grams.append(
            f"IF(size(__toks) >= {n}, "
            f"transform(sequence(1, size(__toks) - {n} + 1), "
            f"i -> named_struct('n', {n}, 'g', "
            f"concat_ws(' ', slice(__toks, i, {n})))), "
            "CAST(array() AS ARRAY<STRUCT<n: INT, g: STRING>>))"
        )
    return (
        fan_out(docs.select(arr.alias("__toks")))
        .select(F.explode(F.expr(
            "concat(" + ", ".join(grams) + ")"
        )).alias("kg"))
        .select(F.col("kg.n").alias("n"), F.col("kg.g").alias("g"))
    )


def distinct_ngram_diversity(
    docs: DataFrame,
    max_n: int = 3,
) -> DataFrame:
    """Corpus-level distinct-n diversity — the fraction of all word
    n-grams that are UNIQUE strings, for n = 1..max_n (the distinct-1/
    2/3 metrics generation-quality work reports): a collapsing ratio
    at n=3 is the classic symptom of a template-flooded or
    self-repetitive corpus before any model sees it.

    ONE corpus scan: every n-gram kind is emitted from the same token
    array as a kind-tagged stream (the PMI shape), one aggregation
    counts totals and approx-free exact distincts per kind.  Returns
    one row per n: (n, total_ngrams, distinct_ngrams, distinct_ratio)
    ordered by n.
    """
    stream = _ngram_kind_stream(docs, max_n)
    return (
        stream.groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_ngrams"),
            F.countDistinct("g").cast("long").alias("distinct_ngrams"),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            "total_ngrams", "distinct_ngrams",
            F.expr(
                "CAST(round(CAST(distinct_ngrams AS DOUBLE) "
                "/ nullif(CAST(total_ngrams AS DOUBLE), 0.0d) "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("distinct_ratio"),
        )
        .orderBy("n")
    )


def distinct_ngram_diversity_approx(
    docs: DataFrame,
    max_n: int = 3,
    k: int = 256,
) -> DataFrame:
    """KMV sketch twin of :func:`distinct_ngram_diversity` — the
    100 TB path: the exact version's ``countDistinct`` must shuffle
    every distinct n-gram STRING (trigrams of a 100 TB corpus are
    themselves terabytes); this twin reduces each n to at most ``k``
    8-byte hashes (Bar-Yossef et al. 2002 k-minimum-values: |D| ≈
    (k−1)/m_k, relative error ~1/√(k−2)), mergeable across partitions
    and days.  Deterministic md5-derived hashing (the
    ``sketches.approx_distinct_kmv`` construction) keeps the estimate
    value-checkable against a DuckDB oracle — not just
    tolerance-tested.

    Shape: the shared kind-tagged stream → per-n k smallest DISTINCT
    hashes via ``dense_rank ≤ k`` directly on the raw hash stream —
    dense_rank (not row_number) because it ranks distinct hash
    values, so duplicate occurrences can't crowd real candidates out
    of a task's k-minima.  Catalyst compiles the filter to a
    two-level ``WindowGroupLimit`` (PARTIAL mode keeps each map
    task's k smallest distinct hashes BEFORE the exchange — pinned in
    ``tests/test_round11_scale.py``), so no corpus-sized frame ever
    crosses the wire: the only full-width exchange the round-10
    version had — the ``(n, hash)`` pre-distinct, which shuffled
    every distinct hash once — is gone; dedup now runs on the ≤
    k·n_tasks survivors (plus their in-task duplicate occurrences —
    expected ~total/|D| each, negligible for diverse corpora; a
    degenerate <k-distinct corpus degrades to the old linear narrow
    exchange, never worse).  When a kind has fewer than k distinct
    n-grams the sketch IS the set and the estimate switches to the
    exact ``k_used`` (standard KMV practice).  Returns one row per n:
    (n, total_ngrams, k_used, distinct_est) ordered by n.
    """
    from pyspark.sql import Window

    from .sketches import _uniform_hash

    if k < 8:
        raise ValueError("k must be >= 8 for a usable KMV estimate")
    stream = _ngram_kind_stream(docs, max_n)
    totals = stream.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("total_ngrams"),
    )
    hashes = stream.select(
        "n", _uniform_hash(F.col("g")).alias("h")
    )
    w = Window.partitionBy("n").orderBy("h")
    kmin = (
        hashes.withColumn("rk", F.dense_rank().over(w))
        .where(F.col("rk") <= k)
        .select("n", "h")
        .distinct()
    )
    est = kmin.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("h").alias("max_h"),
    ).select(
        "n", "k_used",
        F.expr(
            f"CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE) "
            f"ELSE round(CAST({k} - 1 AS DOUBLE) / max_h, 4) END"
        ).cast("double").alias("distinct_est"),
    )
    return (
        totals.join(est, "n")
        .select(
            F.col("n").cast("long").alias("n"),
            "total_ngrams", "k_used", "distinct_est",
        )
        .orderBy("n")
    )


def rake_keywords(
    docs: DataFrame,
    k: int = 20,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus —
    candidate phrases are maximal stopword-free token runs; each
    word's score is degree/frequency (degree = Σ lengths of the
    phrases it appears in), a phrase scores the sum of its member
    words, and the corpus's top-k distinct phrases win.  The cheap,
    language-light keyword surfacer for corpus exploration dashboards
    (the shared :data:`STOPWORDS` set, mirrored in the oracle).

    Shape: one scan → posexplode of the token array, phrase ids from a
    per-document running stopword count (window bounded by document
    length, partitioned by doc), two exact-count aggregations for word
    stats, one join back for phrase scores (micro-quantized word
    scores exact-summed — deterministic on any partition order).
    Returns (phrase, n_occurrences, score) — top-k by (score desc,
    phrase asc).
    """
    from pyspark.sql import Window

    arr = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    stop_set = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = (
        docs.select(F.col("doc_id"), arr.alias("__toks"))
        .select("doc_id", F.posexplode("__toks").alias("pos", "tok"))
        .withColumn("is_stop", F.expr(f"tok IN ({stop_set})"))
        .withColumn(
            "phrase_id",
            F.sum(F.expr("CAST(is_stop AS INT)")).over(
                Window.partitionBy("doc_id").orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .where(~F.col("is_stop"))
    )
    phrases = (
        toks.groupBy("doc_id", "phrase_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(sort_array("
                "collect_list(struct(pos, tok))), s -> s.tok))"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
    )
    members = (
        toks.join(phrases, ["doc_id", "phrase_id"])
        .select("tok", "plen", "phrase")
    )
    word_stats = members.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    ).select(
        "tok",
        F.expr(
            "CAST(round(CAST(degree AS DOUBLE) "
            "/ CAST(freq AS DOUBLE) * 1000000.0d) AS BIGINT)"
        ).alias("wscore_q"),
    )
    scored = (
        members.join(word_stats, "tok")
        .groupBy("phrase")
        .agg(
            F.expr("CAST(count(1) AS BIGINT)").alias("n_tokens_total"),
            F.sum("wscore_q").cast("long").alias("score_sum_q"),
        )
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    return (
        scored.join(occ, "phrase")
        .select(
            "phrase", "n_occurrences",
            # identical phrase text ⇒ identical member word scores, so
            # the per-OCCURRENCE score is the summed score divided by
            # the occurrence count — exact integer division avoided by
            # scoring one occurrence: score_sum/occurrences
            F.expr(
                "CAST(round(CAST(score_sum_q AS DOUBLE) "
                "/ CAST(n_occurrences AS DOUBLE) / 1e6 "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("phrase").asc())
        .limit(k)
    )


def vocab_richness(
    docs: DataFrame,
    text_col: str = "text",
    ngram_n: int = 1,
) -> DataFrame:
    """Chao1 species-richness estimate plus Good-Turing coverage of
    the corpus n-gram vocabulary — "how much vocabulary is still
    uncrawled": n-gram types are species, and the singleton/doubleton
    counts (f1, f2) are sufficient statistics for both estimators.
    Reference behavior class: corpus-diversity reporting over the
    documents table (README.md:104's analytics surface), extended to
    the training-data curation metrics the brief calls for.

    * ``chao1_types`` = D + f1·(f1−1) / (2·(f2+1)) — the bias-
      corrected Chao1 lower bound on total n-gram vocabulary size
      (safe at f2 = 0).
    * ``gt_coverage`` = 1 − f1/N — Good-Turing sample coverage: the
      probability the NEXT n-gram drawn is an already-seen type.
      Coverage stalling under growing N is the classic "crawl is
      saturating" signal; ``unseen_mass`` = f1/N is its complement,
      the expected rate of novel types.

    ``ngram_n`` sets the species granularity: 1 = word types (small
    natural-language vocabularies saturate fast — f1 → 0), 3 =
    trigram phrases (the usual choice for "is this corpus still
    producing novel text" monitoring).

    Scale shape: ONE corpus scan → n-gram-frequency aggregate
    (map-side-combined shuffle on the gram string, the same shape as
    :func:`distinct_ngram_diversity`'s stream), then a 4-counter
    aggregate over the type table (at 100 TB the type table is the
    big-but-partitioned frame — no windows, no collect, no UDFs).
    Returns one row: (types, tokens, f1, f2, chao1_types,
    gt_coverage, unseen_mass).
    """
    if ngram_n < 1:
        raise ValueError("ngram_n must be >= 1")
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    n = ngram_n
    gram_expr = (
        f"IF(size(__toks) >= {n}, "
        f"transform(sequence(1, size(__toks) - {n} + 1), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))), "
        "CAST(array() AS ARRAY<STRING>))"
    )
    freq = (
        docs.select(arr.alias("__toks"))
        .select(F.explode(F.expr(gram_expr)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    m = freq.agg(
        F.count(F.lit(1)).cast("long").alias("types"),
        F.sum("cnt").cast("long").alias("tokens"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long").alias("f1"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0))
        .cast("long").alias("f2"),
    )
    return m.select(
        "types", "tokens", "f1", "f2",
        F.expr(
            "CAST(round((CAST(types AS DOUBLE) "
            "+ CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0d) "
            "/ (2.0d * (CAST(f2 AS DOUBLE) + 1.0d))) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("chao1_types"),
        F.expr(
            "CAST(round((1.0d - CAST(f1 AS DOUBLE) "
            "/ nullif(CAST(tokens AS DOUBLE), 0.0d)) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("gt_coverage"),
        F.expr(
            "CAST(round(CAST(f1 AS DOUBLE) "
            "/ nullif(CAST(tokens AS DOUBLE), 0.0d) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("unseen_mass"),
    )


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    n_sample: int = 100,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    source: DataFrame | None = None,
) -> DataFrame:
    """DSIR data selection, full pipeline (Xie et al. 2023,
    arXiv:2302.03169): hashed n-gram features → target/source
    likelihood-ratio log-weights → Gumbel-top-k resampling — the
    standard domain-targeting curation step ("pick the n_sample raw
    documents that look most like the target domain", sampled
    proportional to importance weight, without replacement).  The
    sibling :func:`importance_weights` stops at per-document unigram
    scores; this operator is the paper's actual selection mechanic:

    - features are unigrams + bigrams hashed into ``n_buckets``
      buckets (md5 → 60-bit → mod B, the house deterministic hash);
    - each bucket's log-ratio is ``ln(((ct+1)/(Nt+B)) /
      ((cs+1)/(Ns+B)))`` (add-one smoothed bucket models), quantized
      to micro units once, model-side;
    - a document's log importance weight is the exact BIGINT sum of
      ``count(doc, bucket) * lr_micro(bucket)`` over its buckets;
    - Gumbel-top-k: key = log_weight + Gumbel(md5-uniform(doc_id))
      realizes weighted sampling WITHOUT replacement deterministically
      (Efraimidis–Spirakis / Gumbel-max), so the selection is
      reproducible and SQL-replayable.

    Scale shape: two bucket-count aggregations (B-row model frames,
    broadcast), one explode → broadcast-join → per-doc BIGINT sum over
    the corpus (a single doc-keyed shuffle), and a
    TakeOrderedAndProject top-``n_sample`` — no all-pairs anything,
    no driver collect.  Documents with zero features never enter the
    tournament (a DSIR weight needs at least one n-gram).  Returns
    the selected rows (doc_id, n_features, log_weight, sample_rank)
    ordered by sample_rank.
    """
    if n_sample < 1:
        raise ValueError("n_sample must be >= 1")
    if not 8 <= n_buckets <= 65536:
        raise ValueError("n_buckets must be in [8, 65536] — the model "
                         "frames are broadcast at B rows")

    toks = (
        f"filter(split({text_col}, ' '), x -> x != '')"
    )
    # tokenize ONCE into a materialized column before the bigram
    # lambda: element_at(split(...), i) inside a transform() re-runs
    # the split per produced element (higher-order lambdas re-evaluate
    # captured expressions per invocation — measured 15 s CPU at sf0.1
    # before this, quadratic in document length)
    feats = (
        "concat(__t, CASE WHEN size(__t) < 2 "
        "THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(1, size(__t) - 1), "
        "i -> concat(element_at(__t, i), ' ', "
        "element_at(__t, i + 1))) END)"
    )
    bucket = (
        "pmod(CAST(conv(substring(md5(f), 1, 15), 16, 10) AS BIGINT), "
        f"{n_buckets})"
    )

    def _features(df: DataFrame, *keep: str) -> DataFrame:
        return (
            df.select(*keep, F.expr(toks).alias("__t"))
            .select(*keep, F.explode(F.expr(feats)).alias("f"))
        )

    def _buckets(df: DataFrame) -> DataFrame:
        return (
            _features(df)
            .select(F.expr(bucket).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    # PIN the two <= B-row bucket-count frames: each feeds BOTH its
    # totals aggregate and the model join — un-pinned, each reference
    # re-scans its corpus side (5 scans total; pinned: 3)
    tb = _buckets(target).withColumnRenamed("c", "ct") \
        .localCheckpoint(eager=False)
    sb = _buckets(source if source is not None else docs) \
        .withColumnRenamed("c", "cs").localCheckpoint(eager=False)
    t_tot = tb.agg(F.sum("ct").cast("long").alias("nt"))
    s_tot = sb.agg(F.sum("cs").cast("long").alias("ns"))
    # B-row model frame: every bucket 0..B-1 (unseen buckets smooth to
    # count 0), log-ratio micro-quantized ONCE here, model-side
    spine = docs.sparkSession.range(n_buckets).select(
        F.col("id").alias("b"))
    model = (
        spine.join(tb, "b", "left").join(sb, "b", "left")
        .crossJoin(F.broadcast(t_tot)).crossJoin(F.broadcast(s_tot))
        .select(
            "b",
            F.expr(
                "CAST(round((ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) "
                f"/ CAST(nt + {n_buckets} AS DOUBLE)) "
                "- ln(CAST(coalesce(cs, 0) + 1 AS DOUBLE) "
                f"/ CAST(ns + {n_buckets} AS DOUBLE))) "
                "* 1000000.0d) AS BIGINT)"
            ).alias("lr_micro"),
        )
    )
    doc_buckets = (
        _features(docs, id_col)
        .select(id_col, F.expr(bucket).alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    weights = (
        doc_buckets.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_features"),
            F.sum(F.expr("n * lr_micro")).cast("long").alias("lw_micro"),
        )
    )
    # Gumbel-top-k key: md5-uniform u in (0,1] from the doc id alone,
    # g = -ln(-ln(u)); adding g to the log-weight and taking the top
    # n_sample is exactly weight-proportional sampling w/o replacement
    # clamp u strictly below 1.0: for h within ~128 of 2^60 the double
    # (h+1)/2^60 rounds to exactly 1.0 and -ln(-ln(1.0)) = +inf, where
    # Spark's BIGINT cast saturates but DuckDB errors — the clamp (the
    # largest double < 1, identical literal in the oracle) removes the
    # divergence with zero effect on any other hash value
    u = (
        f"least(((CAST(conv(substring(md5(concat('dsir:', "
        f"CAST({id_col} AS STRING))), 1, 15), 16, 10) AS DOUBLE) + 1.0d)"
        f" / {float(1 << 60)!r}d), 0.9999999999999999d)"
    )
    keyed = weights.select(
        id_col, "n_features",
        F.expr("CAST(lw_micro AS DOUBLE) / 1e6").alias("log_weight"),
        F.expr(
            f"lw_micro + CAST(round(-ln(-ln({u})) * 1000000.0d) "
            "AS BIGINT)"
        ).alias("__key"),
    )
    w = Window.orderBy(F.col("__key").desc(), F.col(id_col).asc())
    picked = (
        keyed.orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(n_sample)
        .withColumn("sample_rank", F.row_number().over(w))
    )
    return picked.select(
        id_col,
        "n_features",
        F.round(F.col("log_weight"), 6).cast("double").alias("log_weight"),
        F.col("sample_rank").cast("long").alias("sample_rank"),
    ).orderBy("sample_rank")


def doremi_mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    iterations: int = 8,
    eta_milli: int = 500,
    max_domains: int = 100,
    known_domains: list | None = None,
) -> DataFrame:
    """DoReMi-lite domain mixture weights (Xie et al. 2023, DoReMi,
    arXiv:2305.10429, reduced to its reweighting core): domains whose
    text the corpus-wide model predicts POORLY (positive excess loss)
    get up-weighted by iterated multiplicative-weights steps, and the
    output mixture is the AVERAGE of the iterates — the paper's
    readout.  The excess-loss proxy here is per-domain unigram
    cross-entropy under the corpus model minus the corpus-wide
    cross-entropy (clamped at 0), the cheap stand-in for the paper's
    proxy-vs-reference LM losses; swap in real per-doc loss columns at
    production and everything downstream is unchanged.

    The update uses the rational multiplicative-weights step
    ``m ← m · (1 + η·excess)`` (the polynomial-weights variant of
    DoReMi's exponentiated gradient — first-order identical for small
    η·ℓ) precisely because it is division/multiplication/addition
    only: every float op is one correctly-rounded IEEE expression on a
    micro lattice, so the T-step replay is bit-reproducible and
    SQL-replayable with chained materialized CTEs (the BPE/markov
    oracle precedent).  No libm ``exp`` whose last-ulp behavior
    differs across engines ever enters the value path.

    Scale shape: ONE token-explode aggregation to per-(domain, token)
    counts (map-side combined), corpus counts derived from that frame
    (no re-scan), per-domain BIGINT dot products against the
    micro-quantized corpus log-probs; the k-domain frame is collected
    behind a loud ``max_domains`` probe and the T-step descent replays
    driver-side over k doubles — model data, never rows.  Returns one
    row per domain ordered by domain:
    (source, n_docs, tokens, cross_entropy, excess_loss,
    doremi_weight) — ``doremi_weight`` sums to ~1.

    PROBE COST: the ``max_domains`` guard runs one distinct+limit scan
    of the source column per invocation — a real per-call tax at
    100 TB.  The domain frame itself is derived distributedly, so the
    probe is purely a guard: callers that already know the domain set
    pass ``known_domains`` (only its length is used — a trust
    declaration) and the probe scan never runs.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if known_domains is not None:
        if len(set(known_domains)) > max_domains:
            raise ValueError(
                f"doremi_mixture_weights: known_domains has "
                f"{len(set(known_domains))} entries "
                f"> max_domains={max_domains}"
            )
    else:
        d_rows = (
            docs.select(F.col(source_col).cast("string").alias("d"))
            .where("d IS NOT NULL")
            .distinct().limit(max_domains + 1).collect()
        )
        if len(d_rows) > max_domains:
            raise ValueError(
                f"doremi_mixture_weights: > max_domains={max_domains} "
                f"distinct values in {source_col!r} — a mixture needs "
                "a bounded set of named domains; bucket the column "
                "first, raise max_domains deliberately, or pass "
                "known_domains to skip the probe scan."
            )
    toks = f"filter(split({text_col}, ' '), x -> x != '')"
    dt = (
        docs.select(
            F.col(source_col).cast("string").alias("d"),
            F.explode(F.expr(toks)).alias("t"),
        )
        .groupBy("d", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    ).localCheckpoint(eager=False)  # feeds corpus counts AND the join
    ct = dt.groupBy("t").agg(F.sum("c").cast("long").alias("ct"))
    tot = ct.agg(F.sum("ct").cast("long").alias("n"))
    lp = ct.crossJoin(F.broadcast(tot)).select(
        "t",
        F.expr(
            "CAST(round(ln(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* 1000000.0d) AS BIGINT)"
        ).alias("lp_micro"),
        "ct", "n",
    ).localCheckpoint(eager=False)  # vocab rows; domain AND corpus legs
    per_d = (
        dt.join(lp.select("t", "lp_micro"), "t")
        .groupBy("d")
        .agg(
            F.sum("c").cast("long").alias("tokens"),
            F.sum(F.expr("c * lp_micro")).cast("long").alias("slp"),
        )
    )
    nd = docs.where(f"({source_col}) IS NOT NULL").groupBy(
        F.col(source_col).cast("string").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    corp = lp.agg(
        F.sum(F.expr("ct * lp_micro")).cast("long").alias("slp_all"),
        F.max("n").alias("n_all"),
    )
    # per-domain cross-entropy and clamped excess, micro-nat lattice;
    # the MW factor e = 1 + eta * excess is rational — quantized ONCE
    eta = float(eta_milli) / 1000.0
    staged = (
        per_d.join(nd, "d")
        .crossJoin(F.broadcast(corp))
        .select(
            "d", "n_docs", "tokens",
            F.expr(
                "CAST(round(-(CAST(slp AS DOUBLE) "
                "/ CAST(tokens AS DOUBLE))) AS BIGINT)"
            ).alias("ce_micro"),
            F.expr(
                "CAST(round(-(CAST(slp_all AS DOUBLE) "
                "/ CAST(n_all AS DOUBLE))) AS BIGINT)"
            ).alias("ce_all_micro"),
        )
        .select(
            "d", "n_docs", "tokens", "ce_micro",
            F.expr(
                "greatest(ce_micro - ce_all_micro, CAST(0 AS BIGINT))"
            ).alias("ex_micro"),
        )
        .select(
            "d", "n_docs", "tokens", "ce_micro", "ex_micro",
            F.expr(
                "CAST(round((1.0d + "
                f"{eta!r}d * (CAST(ex_micro AS DOUBLE) / 1e6)) "
                "* 1000000.0d) AS BIGINT)"
            ).alias("e_micro"),
        )
    )
    collected = sorted(staged.collect(), key=lambda rw: rw["d"])
    import math

    def _r6(x: float) -> float:
        q = x * 1000000.0
        return (int(math.floor(abs(q) + 0.5))
                * (1 if q >= 0 else -1)) / 1000000.0

    names = [rw["d"] for rw in collected]
    e = [float(rw["e_micro"]) / 1e6 for rw in collected]
    m = [1.0] * len(names)
    acc = [0.0] * len(names)
    for _ in range(iterations):
        m = [_r6(m[i] * e[i]) for i in range(len(names))]
        s = 0.0
        for x in m:  # left fold in ascending domain order
            s = s + x
        w = [_r6(m[i] / s) for i in range(len(names))]
        acc = [_r6(acc[i] + w[i]) for i in range(len(names))]
    wbar = [_r6(acc[i] / float(iterations)) for i in range(len(names))]
    out = local_frame(
        docs.sparkSession,
        [
            (rw["d"], rw["n_docs"], rw["tokens"], rw["ce_micro"],
             rw["ex_micro"], wbar[i])
            for i, rw in enumerate(collected)
        ],
        "source string, n_docs long, tokens long, ce_micro long, "
        "ex_micro long, doremi_weight double",
    )
    return out.select(
        "source", "n_docs", "tokens",
        F.expr("CAST(ce_micro AS DOUBLE) / 1e6").alias("cross_entropy"),
        F.expr("CAST(ex_micro AS DOUBLE) / 1e6").alias("excess_loss"),
        F.col("doremi_weight").cast("double"),
    ).orderBy("source")


def epoch_allocation(
    docs: DataFrame,
    budget_ratio_pct: int = 250,
    decay_quarters: int = 2,
    max_epochs: int = 8,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained epoch allocation: given a token budget of
    ``budget_ratio_pct``% of the corpus, how many times should each
    source be repeated?  Repeating data has geometrically diminishing
    value (the Scaling Data-Constrained LMs finding — Muennighoff et
    al. 2023, arXiv:2305.16264 — here simplified to an explicit
    geometric discount: epoch e of a source is worth
    ``decay^(e-1)`` fresh tokens per token).  The greedy-optimal
    schedule under a uniform discount is epoch-LEVEL order: every
    source's first epoch (ratio 1) before any second epoch (ratio
    decay), ties within a level broken by ascending source, the
    boundary source taking the fractional remainder — a marginal-value
    waterfill, computed entirely declaratively.

    ``decay`` is restricted to the quarter grid {0.25, 0.5, 0.75}
    (``decay_quarters``/4) so every per-epoch value is an EXACT
    integer on the ``4^(max_epochs-1)`` lattice
    (``drawn · 3^(e-1) · 4^(max_epochs-e)`` — dyadic arithmetic, no
    rounding anywhere), making the whole allocation bit-reproducible
    and SQL-replayable.

    Scale shape: ONE token-count aggregation over the corpus
    (map-side combined BIGINT sums); everything after runs on the
    k-source frame — the budget walk is a prefix sum over the
    k × max_epochs chunk frame ordered by (epoch, source), the
    documented small-frame exception.  No driver collect at all.
    Returns one row per source ordered by source:
    (source, unique_tokens, tokens_drawn, epochs, effective_tokens) —
    ``epochs`` = drawn/unique (fractional at the boundary),
    ``effective_tokens`` the discounted fresh-token value of the
    draw; Σ tokens_drawn = min(budget, max_epochs × corpus).
    """
    if decay_quarters not in (1, 2, 3):
        raise ValueError("decay_quarters must be 1, 2 or 3 "
                         "(decay = 0.25 / 0.5 / 0.75)")
    if not 1 <= max_epochs <= 12:
        raise ValueError("max_epochs must be in [1, 12] — the chunk "
                         "frame is k * max_epochs rows and the exact "
                         "value lattice is 4^(max_epochs-1)")
    if budget_ratio_pct < 1:
        raise ValueError("budget_ratio_pct must be >= 1")
    nt = F.expr(
        f"CAST(size(filter(split({text_col}, ' '), x -> x != '')) "
        "AS BIGINT)"
    )
    per = (
        docs.where(f"({source_col}) IS NOT NULL")
        .select(F.col(source_col).cast("string").alias("source"),
                nt.alias("__nt"))
        .groupBy("source")
        .agg(F.sum("__nt").cast("long").alias("unique_tokens"))
    ).localCheckpoint(eager=False)  # k rows; feeds the total AND chunks
    tot = per.agg(
        F.sum("unique_tokens").cast("long").alias("__T"))
    # budget in exact integer tokens, then the epoch-level waterfill:
    # chunk (source, e) costs unique_tokens and is worth
    # decay^(e-1) * drawn; prefix order (e, source)
    chunks = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "unique_tokens",
            F.expr(f"(__T * {int(budget_ratio_pct)}) DIV 100")
            .alias("__B"),
            F.explode(F.expr(f"sequence(1, {max_epochs})")).alias("e"),
        )
    )
    # value lattice: decay^(e-1) = num^(e-1) * base^(max_epochs-e)
    # / base^(max_epochs-1), with (num, base) = (1,4) for 1/4,
    # (1,2) for 1/2, (3,4) for 3/4 — every term an exact integer
    num = {1: 1, 2: 1, 3: 3}[decay_quarters]
    base = {1: 4, 2: 2, 3: 4}[decay_quarters]
    scale = base ** (max_epochs - 1)
    alloc = chunks.select(
        "source", "unique_tokens", "e",
        F.expr(
            "GREATEST(CAST(0 AS BIGINT), LEAST(unique_tokens, "
            "__B - coalesce(SUM(unique_tokens) OVER ("
            "ORDER BY e ASC, source ASC ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT))))"
        ).alias("__drawn"),
    )
    eff = (
        f"__drawn * CAST(pow({num}, e - 1) AS BIGINT) "
        f"* CAST(pow({base}, {max_epochs} - e) AS BIGINT)"
    )
    out = (
        alloc.groupBy("source")
        .agg(
            F.max("unique_tokens").alias("unique_tokens"),
            F.sum("__drawn").cast("long").alias("tokens_drawn"),
            F.sum(F.expr(eff)).cast("long").alias("__eff_scaled"),
        )
        .select(
            "source", "unique_tokens", "tokens_drawn",
            F.expr(
                "CAST(round(CAST(tokens_drawn AS DOUBLE) "
                "/ CAST(unique_tokens AS DOUBLE) * 1000000.0d) "
                "AS BIGINT) / 1e6"
            ).cast("double").alias("epochs"),
            F.expr(
                f"CAST(round(CAST(__eff_scaled AS DOUBLE) / {scale}.0d "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("effective_tokens"),
        )
        .orderBy("source")
    )
    return out


def tokenizer_fertility_ab(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Tokenizer fertility A/B report — tokens-per-word and
    tokens-per-100-bytes per source for two tokenizers over ONE corpus
    scan: A = whitespace words, B = the GPT-2-style pretokenizer split
    (``BPE_ISH_PATTERN``, the same regex :func:`bpe_token_stats`
    budgets with).  Fertility (tokens per word) is the standard
    tokenizer-efficiency read for corpus planning: a source whose
    B-fertility is high (code, non-Latin scripts, dense punctuation)
    costs proportionally more context window per word, which shifts
    both the token budget (:func:`budget_allocation`) and the mixture
    weights (:func:`doremi_mixture_weights`) — this report is the
    per-source input those decisions need.

    Scale shape: fully declarative — per-doc counts are JVM-side
    regexp/split expressions, then one map-side-combined groupBy on
    the source column.  No UDF, no collect, no second scan.  Returns
    one row per source ordered by source:
    (source, n_docs, total_bytes, words, tokens_bpe,
    bpe_per_word, ws_per_100b, bpe_per_100b) — ratios rounded to 6.
    """
    t = f"({text_col})"
    words = f"size(filter(split({t}, ' '), x -> x != ''))"
    # the pattern contains a quote char, so it binds via F.lit (the
    # bpe_token_stats convention), not an inline SQL literal
    bpe = F.size(F.regexp_extract_all(
        F.expr(t), F.lit(BPE_ISH_PATTERN), F.lit(0)))
    per_doc = docs.where(
        f"{t} IS NOT NULL AND ({source_col}) IS NOT NULL"
    ).select(
        F.col(source_col).alias("source"),
        F.expr(f"CAST(octet_length({t}) AS BIGINT)").alias("b"),
        F.expr(f"CAST({words} AS BIGINT)").alias("w"),
        bpe.cast("long").alias("t_bpe"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("b").cast("long").alias("total_bytes"),
        F.sum("w").cast("long").alias("words"),
        F.sum("t_bpe").cast("long").alias("tokens_bpe"),
    )
    return agg.select(
        "source", "n_docs", "total_bytes", "words", "tokens_bpe",
        F.expr("round(CAST(tokens_bpe AS DOUBLE) / nullif(words, 0), 6)")
        .alias("bpe_per_word"),
        F.expr("round(CAST(words AS DOUBLE) * 100.0d "
               "/ nullif(total_bytes, 0), 6)").alias("ws_per_100b"),
        F.expr("round(CAST(tokens_bpe AS DOUBLE) * 100.0d "
               "/ nullif(total_bytes, 0), 6)").alias("bpe_per_100b"),
    ).orderBy("source")
