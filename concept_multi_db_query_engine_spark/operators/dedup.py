"""Deduplication operators for large text/embedding corpora.

Five families, mirroring standard pretraining-data pipelines:

- exact:      md5 fingerprint → groupBy (one shuffle on a 32-byte key)
- n-gram Jaccard: word-k-shingles → inverted-index self-join → set overlap
- MinHash+LSH: md5-based minhash signatures → banded buckets → candidate
  pairs → exact-Jaccard verification (the scale path: candidates only,
  never all-pairs)
- SimHash:    bit-vote fingerprint (xxhash64 fast path, or a 60-bit
  md5-derived hash any engine can replay) → hamming-distance pairs
- embedding cosine: all-pairs above a threshold (brute force; the LSH-bucketed
  variant lives in similarity.py)

Everything is built-in expressions (no Python UDFs). The md5/minhash hash
family is chosen deliberately: DuckDB computes the identical md5 hex, so the
oracle can replay the whole pipeline value-for-value.

Scale notes: the shingle inverted index is the classic skew trap — a stop-
shingle shared by every document creates a quadratic bucket. ``max_doc_freq``
drops shingles that occur in more than N documents (standard practice: they
carry no discriminating signal); AQE skew-join handles the residual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

# ``prefix_filter_pairs`` collects the doc ids of each group of identical
# token sets into one row and emits the group's c*(c-1)/2 within-group
# pairs. A larger group fails the query instead of growing one row (and
# the pair stream) without bound.
MAX_DUPLICATE_GROUP = 10_000


def _shingles(docs: DataFrame, k: int = 5, max_doc_freq: int | None = None
              ) -> DataFrame:
    """(doc_id, shingle) distinct word-k-shingles. The tokenization is
    staged and the short-doc filter is a conditional empty array (explode
    drops it): a pushable WHERE on size(w) gets substituted back to
    size(split(text)) by filter pushdown and re-tokenizes every row."""
    out = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(w) >= {k} THEN "
                    f"transform(sequence(0, size(w) - {k}), "
                    f"i -> concat_ws(' ', slice(w, i + 1, {k}))) "
                    f"ELSE array() END"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    if max_doc_freq is not None:
        freq = out.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        out = (
            out.join(freq, "shingle")
            .where(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    return out


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup: rows whose md5(text) appeared before (lowest doc_id is
    the canonical survivor). Returns (doc_id, canonical_id, fingerprint) for
    every NON-canonical duplicate."""
    fp = docs.select("doc_id", F.md5(F.col("text")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return (
        fp.withColumn("canonical_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id", "fingerprint")
    )


def repeated_passages(
    docs: DataFrame, n: int = 8, min_docs: int = 3,
) -> DataFrame:
    """Boilerplate / repeated-span mining: n-token word grams occurring in
    at least ``min_docs`` DISTINCT documents — the corpus-wide repeated
    passages (headers, licenses, navigation chrome, templated sentences)
    that exact-substring dedup strips from training data because models
    memorize them out of proportion to their value. Returns
    (passage, n_docs).

    Same scale shape as the shingle family: JVM ``transform(sequence(...))``
    gram construction (no Python in the row path), per-doc DISTINCT so a
    passage repeated within one document counts once, one shuffle on the
    gram for the count. The gram frame is |tokens|-sized; at corpus scale
    raise ``n``/``min_docs`` or pre-hash grams to 64-bit before the
    exchange if passage text isn't needed downstream.
    """
    sh = _shingles(docs, k=n)
    return (
        sh.groupBy(F.col("shingle").alias("passage"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def incremental_new_docs(
    new_docs: DataFrame, corpus_fingerprints: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Incremental ingestion dedup — the daily-crawl shape: from a NEW
    batch, keep only documents that are (a) not already in the corpus (by
    exact content fingerprint) and (b) the lowest-id instance of their
    content within the batch itself. Returns (id, fingerprint) of the
    admissible docs; append their fingerprints to the corpus set for the
    next batch.

    Scale shape: one shuffle of the (small) new batch on the 32-byte
    fingerprint for the within-batch canonical window, then a left-anti
    join against the corpus fingerprint set — the batch is the streamed
    side, the (huge) corpus set is hash-partitioned once and never
    materialized anywhere whole; bucketing the stored fingerprint table on
    `fingerprint` makes the anti-join co-located across daily runs. No
    text leaves the batch side: the corpus contributes only fingerprints.
    """
    fp = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    batch_canonical = (
        fp.withColumn("__canon", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__canon"))
        .drop("__canon")
    )
    return batch_canonical.join(
        corpus_fingerprints.select("fingerprint").distinct(),
        "fingerprint",
        "left_anti",
    ).select("doc_id", "fingerprint")


def _jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Pairwise Jaccard over a (doc_id, shingle) set via inverted-index
    self-join; only pairs sharing ≥1 shingle are ever materialized.

    The shingle frame feeds multiple plan branches but is deliberately NOT
    persisted: the branches share the distinct()'s shuffle output (Spark
    reuses shuffle files across stages of one job), and an explicit
    deserialized cache measured 3× SLOWER end-to-end at sf0.1 from GC
    pressure. At petabyte scale, checkpoint to parquet instead."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    return (
        inter.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1", "d2",
            F.round(
                F.col("common")
                / (F.col("s1.n") + F.col("s2.n") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 5, threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-k-gram Jaccard ≥ threshold.
    Output: (d1, d2, jaccard) with d1 < d2."""
    return _jaccard_pairs(_shingles(docs, k, max_doc_freq), threshold)


def prefix_filter_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-set Jaccard join via PREFIX FILTERING (the
    AllPairs/PPJoin candidate scheme, Bayardo et al. WWW'07 /
    Chaudhuri et al. ICDE'06) — same answer as an inverted-index join
    on EVERY shared token, at a fraction of the candidate volume.

    Under any global token order, a pair with Jaccard >= t must share
    at least one token inside each side's PREFIX of length
    ``n - ceil(t*n) + 1`` (if all shared tokens sat in the suffix, the
    suffix's ``ceil(t*n) - 1`` slots could not hold the >= ceil(t*n)
    required intersection). Ordering tokens by ascending document
    frequency makes those prefixes the RAREST tokens, so the inverted
    index joins only on discriminating keys — the stop-token quadratic
    bucket that ``max_doc_freq`` must amputate in the full join never
    forms here, and no tokens are dropped: the result is exact.

    Plan: tokenize + distinct (one shuffle), EXACT-DUPLICATE COLLAPSE
    (docs grouped by identical token set — Jaccard sees only the set,
    so one representative per distinct set runs the quadratic
    machinery and member pairs are re-expanded at the end; duplicate
    groups are exactly where the candidate join blows up as c² and
    where real corpora are densest), doc-frequency join over the
    representative stream, ONE per-rep window ranking tokens by
    (df, tok) — a keyed shuffle, never a global sort — then the
    prefix-only self-join with the Jaccard length filter
    ``t*max(n1,n2) <= min(n1,n2)`` applied inside the join condition,
    exact verification of representative candidates only, and the
    member expansion (within-group pairs emitted directly at
    jaccard = 1.0, the per-doc formula's exact value for identical
    sets). Every stage is keyed; candidate volume over DISTINCT sets,
    not corpus², is the cost.

    The distinct token frame is localCheckpoint'd (two consumers:
    count probe, set build), and the group frame too — FOUR consumers
    read it (rep token stream, verification arrays, both expansion
    sides); without the cut each replays the set-grouping shuffle.
    Candidates carry the PPJoin POSITIONAL filter inside the join
    condition (overlap upper bound from the shared token's positions),
    and verification is ONE codegen ``array_intersect`` per surviving
    pair against the per-doc token-array frame (broadcast when a
    count-probe of the materialized token frame says it fits) — the
    candidate×tokens re-expansion and its re-aggregation never
    materialize.  On adversarially tiny vocabularies (every token a
    stop token) candidates degrade toward all-pairs — that is the
    RESULT's size, not the scheme's overhead; prefix filtering's bound
    bites on Zipfian real-text vocabularies.

    Output: (d1, d2, jaccard) with d1 < d2, jaccard rounded to 4 —
    byte-identical to :func:`ngram_jaccard_pairs` semantics at k=1.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    t = float(threshold)
    tok = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    small_tok = tok.count() <= 5_000_000
    # EXACT-DUPLICATE COLLAPSE: Jaccard depends only on the token SET,
    # so docs with identical sets are interchangeable — group them,
    # run the whole candidate/verify machinery on one REPRESENTATIVE
    # per distinct set, and expand the surviving representative pairs
    # back to member pairs at the end (within-group pairs are emitted
    # directly with jaccard = 1.0, which is what the per-doc formula
    # yields for identical sets: n/(n+n−n)).  Duplicate groups are
    # exactly where the candidate join blows up quadratically (a group
    # of c identical docs turns every witnessing token into c² raw
    # candidate rows); on the r15 fixture this collapsed 5000 docs to
    # 3935 sets and the 12.6M raw candidates to ~8M, and the win GROWS
    # with duplicate density — the realistic regime at corpus scale.
    # The group frame is checkpointed: four consumers (rep token
    # stream, verification arrays, two expansion joins).
    sets_by_doc = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("__s")
    )
    groups = (
        sets_by_doc.groupBy("__s")
        .agg(
            F.min("doc_id").alias("rep"),
            F.when(F.count(F.lit(1)) <= MAX_DUPLICATE_GROUP,
                   F.collect_list("doc_id"))
            .otherwise(F.raise_error(F.lit(
                f"prefix_filter_pairs: more than {MAX_DUPLICATE_GROUP} "
                f"documents share one token set")))
            .alias("__members"),
        )
        .localCheckpoint(eager=True)
    )
    rstream = groups.select(
        F.col("rep").alias("doc_id"), F.explode("__s").alias("tok")
    )
    freq = rstream.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("__df").asc(), F.col("tok").asc()
    )
    w_n = Window.partitionBy("doc_id")
    ordered = (
        rstream.join(freq, "tok")
        .select(
            "doc_id", "tok",
            F.row_number().over(w_rank).alias("pos"),
            F.count(F.lit(1)).over(w_n).alias("n"),
        )
    )
    # materialize the prefix index before self-joining it: both join
    # sides would otherwise replay the freq join + double window (the
    # AllPairs "build the index" step — measured 6x end-to-end at
    # sf0.1). The frame is prefix-of-token-stream sized, far below the
    # corpus.
    prefix = ordered.where(
        F.col("pos")
        <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    ).select("doc_id", "tok", "pos", "n").localCheckpoint(eager=True)
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: a qualifying pair needs overlap >=
    # alpha = ceil(t/(1+t)*(n1+n2)); a shared token at positions
    # (pa, pb) can contribute at most 1 + min(n1-pa, n2-pb) overlap,
    # so rows violating that bound cannot witness the pair (its first
    # shared token, if any qualifies, satisfies the bound) — exactness
    # is preserved while the candidate stream shrinks pre-shuffle.
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n").cast("double") >= F.lit(t) * F.col("a.n"))
            & (F.col("a.n").cast("double") >= F.lit(t) * F.col("b.n"))
            & (
                1
                + F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                >= F.ceil(
                    F.lit(t / (1.0 + t))
                    * (F.col("a.n") + F.col("b.n"))
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("n1"), F.col("b.n").alias("n2"),
        )
        .distinct()
    )
    # verification: intersect the per-REPRESENTATIVE token ARRAYS (one
    # codegen array_intersect per surviving pair) instead of re-joining
    # the token stream — the candidate×tokens expansion and its huge
    # re-aggregation never materialize. The rep→array frame is one row
    # per distinct set; both joins are keyed (broadcast when small).
    sets = groups.select("rep", "__s")
    if small_tok:
        sets = F.broadcast(sets)
    rep_pairs = (
        cand.join(
            sets.select(F.col("rep").alias("d1"),
                        F.col("__s").alias("__s1")), "d1")
        .join(
            sets.select(F.col("rep").alias("d2"),
                        F.col("__s").alias("__s2")), "d2")
        .withColumn(
            "__common", F.size(F.array_intersect("__s1", "__s2"))
        )
        .select(
            "d1", "d2",
            F.round(
                F.col("__common")
                / (F.col("n1") + F.col("n2") - F.col("__common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
    )
    # expansion: every member pair across two qualifying sets shares
    # the sets' jaccard (identical sets ⇒ identical value); groups are
    # disjoint doc partitions, so least/greatest emits each doc pair
    # exactly once.  Member lists ride a broadcast-sized frame (one
    # row per distinct set) on both sides.
    g1 = groups.select(F.col("rep").alias("d1"),
                       F.col("__members").alias("__m1"))
    g2 = groups.select(F.col("rep").alias("d2"),
                       F.col("__members").alias("__m2"))
    if small_tok:
        g1, g2 = F.broadcast(g1), F.broadcast(g2)
    cross = (
        rep_pairs.join(g1, "d1").join(g2, "d2")
        .select("jaccard", F.explode("__m1").alias("__e1"), "__m2")
        .select("jaccard", "__e1", F.explode("__m2").alias("__e2"))
        .select(
            F.least("__e1", "__e2").alias("d1"),
            F.greatest("__e1", "__e2").alias("d2"),
            "jaccard",
        )
    )
    # within-group pairs: identical sets have jaccard exactly 1.0
    # (n/(n+n−n) → round(1.0, 4)), which passes any threshold in (0,1]
    within = (
        groups.where(F.size("__members") >= 2)
        .select(F.col("__members").alias("__m"),
                F.explode("__members").alias("__e1"))
        .select("__e1", F.explode("__m").alias("__e2"))
        .where(F.col("__e1") < F.col("__e2"))
        .select(
            F.col("__e1").alias("d1"), F.col("__e2").alias("d2"),
            F.lit(1.0).cast("double").alias("jaccard"),
        )
    )
    return cross.unionAll(within)


def minhash_signatures(
    docs: DataFrame, k: int = 5, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, seed, sig): minhash signature rows. Hash family
    h_s(x) = md5(s || ':' || x); the minimum md5 hex string per seed is an
    order-preserving stand-in for the minimum 128-bit integer."""
    sh = _shingles(docs, k)
    seeds = docs.sparkSession.range(num_hashes).select(
        F.col("id").cast("int").alias("seed")
    )
    return (
        sh.crossJoin(F.broadcast(seeds))
        .select(
            "doc_id", "seed",
            F.md5(
                F.concat(F.col("seed").cast("string"), F.lit(":"),
                         F.col("shingle"))
            ).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("sig"))
    )


# largest prime below 2^48: the modulus of the two-hash minhash family
# (fits BIGINT with slack: h1 + 15·h2 < 2^53, no overflow on any engine)
_MH_P = 281_474_976_710_597


def _minhash_sigs(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, sig0..sigN-1, __n): minhash signatures as SIDE-BY-SIDE min
    aggregates over ONE pass of the shingle frame — each min has a map-side
    partial combiner, so the shuffle carries |docs| × num_hashes values
    instead of |shingles| × num_hashes exploded rows (the crossJoin
    formulation shuffles ~16× the shingle set and benches ~4× slower). The
    shingle-set size rides along in the same aggregation pass.

    Hash family: TWO md5-derived 48-bit base hashes per shingle, slot s
    uses ``(h1 + s·h2) mod P`` with P the largest prime below 2^48 — the
    Kirsch–Mitzenmacher two-hash construction over a pairwise-independent
    linear family (the same shape production minhash libraries use).
    Round 11 hashed md5 PER SLOT (16 digests per shingle); this computes
    2 and derives the rest with integer ops — measured 35 → ~7 s CPU for
    the sf0.1 signature stage — and BIGINT signatures make the signature
    frame 4× narrower on the wire than 32-char hex strings."""
    h1 = ("CAST(conv(substring(md5(concat('mh1:', shingle)), 1, 12), "
          "16, 10) AS BIGINT)")
    h2 = ("CAST(conv(substring(md5(concat('mh2:', shingle)), 1, 12), "
          "16, 10) AS BIGINT)")
    staged = sh.select(
        "doc_id", F.expr(h1).alias("__h1"), F.expr(h2).alias("__h2")
    )
    sig_cols = [
        F.min(F.expr(f"(__h1 + {s} * __h2) % {_MH_P}")).alias(f"sig{s}")
        for s in range(num_hashes)
    ]
    return staged.groupBy("doc_id").agg(
        *sig_cols, F.count(F.lit(1)).alias("__n")
    )


def _banded_buckets(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, band, bucket) banding of a wide signature frame — the
    LSH index rows both the self-join and the incremental batch-vs-
    corpus probe hash on."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"sig{b * rows_per_band + i}")
                        for i in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return (
        sigs.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("bb")
        )
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )


def _lsh_candidates(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Banded-bucket candidate pairs (d1 < d2) from a wide signature
    frame: equal band-bucket md5 ⇒ candidate."""
    banded = _banded_buckets(sigs, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_frames(
    docs: DataFrame, k: int = 5, num_hashes: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The shared upstream of the minhash scoring modes: (shingles,
    signatures). At corpus scale the signature stage dominates
    :func:`minhash_lsh_pairs` and :func:`minhash_estimate_pairs`. Nothing
    is persisted here; caching policy belongs to the caller."""
    sh = _shingles(docs, k)
    return sh, _minhash_sigs(sh, num_hashes)


def minhash_estimate_pairs(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    min_estimate: float = 0.5,
) -> DataFrame:
    """LSH candidates scored by SIGNATURE AGREEMENT instead of exact
    Jaccard: est = (#matching minhash slots) / num_hashes, an unbiased
    estimator of the true Jaccard. This is the skip-the-verify-join path
    for corpora where even candidates-only exact Jaccard (re-joining the
    shingle frame) is too expensive — per-pair work is O(num_hashes),
    independent of document length. num_hashes is a power of two, so the
    division is exact in binary and the estimate is bit-reproducible
    cross-engine. Returns (d1, d2, est_jaccard ≥ min_estimate)."""
    # PIN the signature frame (3 references below — the
    # minhash_lsh_pairs discipline).
    sigs = minhash_frames(docs, k, num_hashes)[1].localCheckpoint(
        eager=False)
    candidates = _lsh_candidates(sigs, num_hashes, bands)
    a = sigs.alias("a")
    b = sigs.alias("b")
    agree = sum(
        (F.col(f"a.sig{s}") == F.col(f"b.sig{s}")).cast("int")
        for s in range(num_hashes)
    )
    est = F.round(agree / float(num_hashes), 4)
    return (
        candidates.join(a, F.col("d1") == F.col("a.doc_id"))
        .join(b, F.col("d2") == F.col("b.doc_id"))
        .select("d1", "d2", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_estimate)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-dup detection, verified with exact Jaccard.

    num_hashes/bands = rows-per-band r; candidate probability for a pair with
    true Jaccard j is 1-(1-j^r)^bands — with 16/4 the curve crosses 50% around
    j≈0.47, matching the 0.5 verification threshold.

    At scale this is the only shape that works: signatures are
    O(docs × num_hashes), buckets bound the join fan-out, and exact Jaccard
    runs only on candidates.
    """
    sh, sigs = minhash_frames(docs, k, num_hashes)
    # PIN the signature frame: it is referenced three times below
    # (candidates + both size sides) and each un-pinned reference re-runs
    # the shingle scan + 16 min-aggregates — the stage the docstring calls
    # dominant. n_docs x ~20 longs, one lazy materialization.
    sigs = sigs.localCheckpoint(eager=False)
    candidates = _lsh_candidates(sigs, num_hashes, bands)
    # Exact-Jaccard verification on CANDIDATES ONLY — this is the whole point
    # of LSH. (Running the full inverted-index jaccard and intersecting with
    # candidates recomputes all-pairs and benches ~5× slower at sf0.1.)
    # Fan-out is |candidates| × shingles-per-doc, independent of corpus size.
    sizes = sigs.select("doc_id", F.col("__n").alias("n"))
    common = (
        candidates
        .join(sh.select(F.col("doc_id").alias("d1"), "shingle"), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"), "shingle"),
              ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    return (
        common.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1", "d2",
            F.round(
                F.col("common")
                / (F.col("s1.n") + F.col("s2.n") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _simhash_nbits(hash_fn: str) -> int:
    return 60 if hash_fn == "md5" else 64


def simhash_fingerprints(
    docs: DataFrame, k: int = 2, hash_fn: str = "xxhash64"
) -> DataFrame:
    """SimHash per document: per-shingle hash, bit-majority vote.

    ``hash_fn='xxhash64'`` (default) is the fast path: 64-bit JVM hash, no
    string math. ``hash_fn='md5'`` derives a 60-bit hash from the md5 hex
    digest (``conv(substr(md5(s),1,15),16,10)``) — slower, but exactly
    reproducible in other engines (DuckDB:
    ``('0x'||substr(md5(s),1,15))::BIGINT``), which makes the operator
    oracle-checkable end to end.

    Compiled as N plain SUM aggregates (one per bit) + a bitwise-OR fold in
    the projection — every expression is whole-stage-codegen'd. (The obvious
    alternative, an N-element array fold with lambda functions, runs
    interpreted and benches ~10× slower.) A bit is set when strictly more
    than half the shingle hashes have it set: 2·Σbit > n.
    Returns (doc_id, simhash) as a signed 64-bit long.
    """
    nbits = _simhash_nbits(hash_fn)
    sh = _shingles(docs, k)
    if hash_fn == "md5":
        h = F.conv(
            F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64("shingle")
    hashed = sh.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(nbits)
    ]
    agg = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *bit_sums
    )
    import functools

    bits = [
        F.shiftleft(
            F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")),
            b,
        )
        for b in range(nbits)
    ]
    simhash = functools.reduce(lambda x, y: x.bitwiseOR(y), bits)
    return agg.select("doc_id", simhash.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, k: int = 2, max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Scale path: block on 4 quarter-keys (16 bits each for xxhash64, 15 for
    the 60-bit md5 mode) — two fingerprints within hamming 3 must agree
    exactly on at least one quarter (pigeonhole), so the self-join runs on
    quarter-key buckets, never all-pairs.
    """
    qw = _simhash_nbits(hash_fn) // 4
    mask = (1 << qw) - 1
    fp = simhash_fingerprints(docs, k, hash_fn=hash_fn)
    quarters = fp.select(
        "doc_id", "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                f"q -> struct(q AS q, CAST(shiftright(simhash, q * {qw}) & {mask} AS INT)"
                " AS qk))"
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.q", "blk.qk")
    a = quarters.alias("a")
    b = quarters.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q")) & (F.col("a.qk") == F.col("b.qk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("h1"), F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    iterative min-label propagation; cluster_id = smallest doc_id in the
    component (the canonical survivor under keep-lowest-id policy).

    Input: (d1, d2[, ...]) undirected edges. Output: (doc_id, cluster_id)
    for every node that appears in a pair, a self-pair (d, d) included
    (singletons never enter pairs).

    The loop is ``graph.connected_components``' (GraphX/GraphFrames use
    the same shape): each round, every node takes the min label among
    itself and its neighbors; rounds needed = graph diameter (near-dup
    clusters are shallow — a handful). If labels still change after
    ``max_iter`` rounds it raises ``ValueError`` rather than return
    silently split clusters.
    """
    from .graph import _min_label_components

    edges = pairs.select(F.col("d1").alias("u"), F.col("d2").alias("w"))
    # PIN the edge frame before looping: every propagation round joins
    # `sym`, and without a checkpoint each round re-evaluates the FULL
    # upstream pair pipeline (for semantic pairs that is the clustering
    # + pair join — measured 33 s vs 4 s at sf0.1 for the survivors
    # composition). localCheckpoint blocks are executor-local; for
    # multi-hour cluster runs swap in persist(DISK_ONLY_2).
    sym = edges.union(
        edges.select(F.col("w").alias("u"), F.col("u").alias("w"))
    ).localCheckpoint(eager=True)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    labels = _min_label_components(sym, nodes, max_iter, "max_iter")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def block_pair_tagged(src: DataFrame, B: int) -> DataFrame:
    """Blocked-self-join replication: hash each (vid, v) row into one of
    ``B`` blocks and replicate it into every unordered block pair its block
    belongs to, tagged with the side it plays there ('a' for the lower
    block id, 'b' for the higher; the diagonal pair gets one side-'a'
    copy). Every pair of rows meets in EXACTLY one group keyed by ``bp``,
    which is what makes blocked all-pairs operators exact. Shared by
    :func:`embedding_cosine_pairs` and ``similarity.knn_graph``."""
    blk = F.pmod(F.xxhash64(F.col("vid")), F.lit(B))
    pairs = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(B - 1)),
            lambda x: F.struct(
                (F.least(blk, x) * B + F.greatest(blk, x)).alias("bp"),
                F.when(blk <= x, F.lit("a")).otherwise(F.lit("b"))
                .alias("side"),
                x.alias("other"),
            ),
        ),
        # keep one copy for the diagonal (when other == own block, side='a')
        lambda s: (s["other"] != blk) | (s["side"] == F.lit("a")),
    )
    return (
        src.select("vid", "v", F.explode(pairs).alias("p"))
        .select("vid", "v", F.col("p.bp").alias("bp"),
                F.col("p.side").alias("side"))
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup), fully distributed.

    Blocked self-join: vectors are hashed into ``n_blocks`` blocks; each of
    the B(B+1)/2 unordered block pairs becomes one applyInPandas group that
    computes its cross-block similarities with chunked BLAS matmuls. Every
    pair of vectors meets in exactly one group, so the result is EXACT (the
    DuckDB all-pairs oracle hash-matches) — nothing is collected onto the
    driver and per-task memory is bounded by (n/B)·chunk sims at a time.

    Replication factor is B per vector (each block participates in B pairs),
    so shuffle volume is O(n·B) while compute stays the inherent O(n²) of
    the exact semantics. At 100 TB, scale B with the corpus so a block fits
    an executor (n/B ≲ 1M 64-dim vectors ≈ 512 MB), or switch to the
    candidates-only variants (minhash_lsh / simhash / similarity.topk_*) —
    this operator is the exact baseline, not the billion-doc path.

    BLAS inside Arrow-batched applyInPandas is the documented exception to
    'built-ins first': a 64-element lambda fold per pair runs interpreted
    and benches ~50× slower. Results match the SQL oracle after
    round(·, 4): float32 inputs are exactly representable in float64, and
    reassociated BLAS sums differ from sequential sums by ≪ the rounding
    quantum.
    """
    import numpy as np
    import pandas as pd

    src = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    )
    B = n_blocks
    tagged = block_pair_tagged(src, B)

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # diagonality comes from the GROUP KEY, never from side emptiness:
        # an off-diagonal pair (i,j) whose block j holds no vectors still
        # forms a group (side-'a' rows only) and must emit nothing — treating
        # it as a self-comparison would re-emit block i's internal pairs
        # once per empty partner block
        bp = int(key[0])
        diagonal = (bp // B) == (bp % B)
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        a_ids = a["vid"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a["v"]), dtype=np.float64)
        if diagonal:  # self-comparison: keep id-ordered pairs only
            b_ids, b_mat = a_ids, a_mat
        else:
            b_ids = b["vid"].to_numpy(dtype=np.int64)
            b_mat = np.array(list(b["v"]), dtype=np.float64)
        if not len(a_ids) or not len(b_ids):
            return pd.DataFrame({"v1": [], "v2": [], "cosine": []}).astype(
                {"v1": "int64", "v2": "int64", "cosine": "float64"}
            )
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
        out = []
        chunk = max(1, 16_000_000 // max(len(b_ids), 1))  # ≤ ~128 MB sims
        for s in range(0, len(a_ids), chunk):
            e = s + chunk
            sims = (a_mat[s:e] @ b_mat.T) / np.outer(a_norms[s:e], b_norms)
            sims = np.round(sims, 4)
            keep = sims >= threshold
            if diagonal:
                keep &= a_ids[s:e, None] < b_ids[None, :]
            i, j = np.nonzero(keep)
            lo = np.minimum(a_ids[s:e][i], b_ids[j])
            hi = np.maximum(a_ids[s:e][i], b_ids[j])
            out.append(pd.DataFrame(
                {"v1": lo, "v2": hi, "cosine": sims[i, j]}
            ))
        return pd.concat(out, ignore_index=True)

    return tagged.groupBy("bp").applyInPandas(
        block_pair, schema="v1 long, v2 long, cosine double"
    )


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """The end-user dedup operation: the corpus with near-duplicates REMOVED.
    Near-dup pairs are resolved into connected components; within each
    component the smallest id survives (keep-lowest canonical policy) and
    every other member is dropped. Documents appearing in no pair survive
    untouched.

    Composition: ``duplicate_clusters`` (min-label propagation) → anti-join
    of the non-canonical members against the corpus. One extra broadcast-
    sized anti-join on top of clustering — the dropped-member frame is
    |duplicates|, tiny relative to the corpus at real dup rates.

    Returns (doc_id, lang, source, n_chars) of surviving documents.
    """
    clusters = duplicate_clusters(pairs)
    dropped = clusters.where(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    return (
        docs.join(dropped, id_col, "left_anti")
        .select(id_col, "lang", "source", "n_chars")
    )


def containment_pairs(
    docs: DataFrame, k: int = 5, threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed near-duplicate CONTAINMENT: C(A→B) = |sh(A) ∩ sh(B)| /
    |sh(A)| — the doc-inside-doc signal symmetric Jaccard misses (a
    paragraph quoted whole inside a long article scores near-zero Jaccard
    but containment ≈ 1), which is how training pipelines catch
    quote-expansions, wrapper pages, and partial mirrors.

    Same scale shape as :func:`ngram_jaccard_pairs` — the inverted-index
    self-join materializes only co-shingling pairs, one shuffle on the
    shingle (cap hot shingles with ``max_doc_freq``), one on the pair —
    then each undirected pair emits its two directed containments.
    Returns (doc_id, container_id, containment) for directions at or
    above ``threshold``; containment rounds to 4 like the Jaccard twin.
    """
    sh = _shingles(docs, k, max_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    joined = (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1", "d2", "common",
            F.col("s1.n").alias("n1"), F.col("s2.n").alias("n2"),
        )
    )
    # both directions from ONE pass: a union of two selects would give
    # each branch its own copy of the whole shingle-join subtree (Spark
    # re-executes unshared plan branches) — the inline explode keeps a
    # single subtree and emits two rows per undirected pair
    return joined.select(
        F.expr(
            "inline(array("
            "struct(d1 AS doc_id, d2 AS container_id, "
            "round(common / n1, 4) AS containment), "
            "struct(d2 AS doc_id, d1 AS container_id, "
            "round(common / n2, 4) AS containment)))"
        )
    ).where(F.col("containment") >= threshold)


def duplicate_ngram_fraction(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-n-gram FRACTION — the RefinedWeb/FineWeb
    line of quality filters: what share of a document's n-gram positions
    is text that also appears in at least ``min_docs`` documents.  High
    fractions mark boilerplate and templated pages that exact and
    near-dup passes keep (the document as a whole is unique; its
    sentences are not).

    Two frames off one tokenization: positional n-grams (every
    occurrence) and the distinct (doc, gram) pairs that feed the
    document-frequency count.  Grams occurring in ≥ ``min_docs`` docs
    form the duplicated set; a gram-keyed join back to the positional
    frame and one per-doc aggregation yield exact counts.  Everything
    shuffles on gram keys (the ``repeated_passages`` scale shape — an
    inverted index, never doc×doc).  Returns (doc_id, n_grams,
    dup_grams, dup_fraction) — NULL fraction for docs shorter than
    ``n`` tokens.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    positional = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(w) >= {n} THEN "
                f"transform(sequence(0, size(w) - {n}), "
                f"i -> concat_ws(' ', slice(w, i + 1, {n}))) "
                f"ELSE array() END"
            )
        ).alias("gram"),
    )
    dup_grams = (
        positional.select("doc_id", "gram").distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("gram")
    )
    flagged = positional.join(
        dup_grams.withColumn("__dup", F.lit(1)), "gram", "left"
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
        .cast("long").alias("dup_grams"),
    )
    return docs.select(F.col(id_col).alias("doc_id")).join(
        per_doc, "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
        F.expr(
            "CASE WHEN coalesce(n_grams, 0) = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE round(CAST(dup_grams AS DOUBLE) "
            "/ CAST(n_grams AS DOUBLE), 6) END"
        ).alias("dup_fraction"),
    )


def lsh_tuning_curve(
    spark,
    num_hashes: int = 16,
    similarities: list[float] | None = None,
) -> DataFrame:
    """The banding S-curve behind MinHash-LSH parameter choice: for
    every (bands b, rows-per-band r) factorization of ``num_hashes``
    and a grid of true Jaccard similarities s, the candidate
    probability ``P = 1 − (1 − s^r)^b`` — the table a user reads to
    pick the (b, r) whose threshold ``(1/b)^{1/r}`` sits where their
    dedup cutoff is (Leskovec/Rajaraman/Ullman ch.3).  Pure model
    math: a few dozen rows built from literals, no corpus scan — the
    planning companion to :func:`minhash_lsh_pairs`, emitted by the
    engine so the exact IEEE expression is reproducible anywhere.
    Returns (bands, rows_per_band, threshold_s, similarity,
    p_candidate).
    """
    sims = similarities or [i / 10 for i in range(1, 10)]
    factorizations = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    sims_df = local_frame(
        spark,
        [(round(s, 4),) for s in sims], "similarity double"
    )
    out = None
    for b, r in factorizations:
        # threshold needs a real pow — computed once here and baked as
        # a literal (the oracle bakes the identical literal); the
        # S-curve itself is UNROLLED left-associated IEEE
        # multiplication, so both engines evaluate the identical
        # operation tree with no libm involvement
        thr = round((1.0 / b) ** (1.0 / r), 4)
        s_r = "*".join(["similarity"] * r)
        one_minus = f"(1.0d - ({s_r}))"
        p = "*".join([one_minus] * b)
        part = sims_df.selectExpr(
            f"CAST({b} AS INT) AS bands",
            f"CAST({r} AS INT) AS rows_per_band",
            f"CAST({thr!r} AS DOUBLE) AS threshold_s",
            "similarity",
            f"round(1.0d - {p}, 6) AS p_candidate",
        )
        out = part if out is None else out.unionByName(part)
    return out


def minhash_incremental_pairs(
    corpus_docs: DataFrame,
    new_docs: DataFrame,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental FUZZY dedup: which documents of a NEW batch are
    near-duplicates of an EXISTING corpus — the daily-ingestion shape
    of MinHash-LSH, where :func:`minhash_lsh_pairs`' within-corpus
    self-join is replaced by a batch-vs-index probe so per-day cost
    scales with the batch, not the corpus².

    Both sides use the identical shingle/signature/banding scheme, so
    the batch's band rows join the corpus' band rows directly; in a
    production pipeline the corpus side is a STORED band index
    (``bucketBy(bucket)`` — see ``bucketing.py`` — making the probe a
    shuffle-free co-located join), appended to as batches are
    admitted.  Candidates verify with exact Jaccard on candidate pairs
    only (the :func:`minhash_lsh_pairs` discipline).  The exact-dedup
    twin of this operator is ``incremental_new_docs``.

    Returns (new_id, corpus_id, jaccard ≥ threshold) — a new doc may
    match several corpus docs; anti-join ``new_docs`` against the
    distinct ``new_id``s to admit only novel content.
    """
    sh_c, sig_c = minhash_frames(corpus_docs, k, num_hashes)
    sh_n, sig_n = minhash_frames(new_docs, k, num_hashes)
    cands = (
        _banded_buckets(sig_n, num_hashes, bands).alias("a")
        .join(
            _banded_buckets(sig_c, num_hashes, bands).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    common = (
        cands
        .join(sh_n.select(F.col("doc_id").alias("new_id"), "shingle"),
              "new_id")
        .join(sh_c.select(F.col("doc_id").alias("corpus_id"), "shingle"),
              ["corpus_id", "shingle"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s_n = sig_n.select(F.col("doc_id").alias("new_id"),
                       F.col("__n").alias("n_new"))
    s_c = sig_c.select(F.col("doc_id").alias("corpus_id"),
                       F.col("__n").alias("n_corpus"))
    return (
        common.join(s_n, "new_id")
        .join(s_c, "corpus_id")
        .select(
            "new_id", "corpus_id",
            F.round(
                F.col("common")
                / (F.col("n_new") + F.col("n_corpus") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_key: str,
    right_key: str,
    block_expr: str,
    max_distance: int = 1,
) -> DataFrame:
    """Blocked record linkage: fuzzy-match two entity tables on a string
    key with an edit-distance budget, without the all-pairs cartesian.

    ``block_expr`` is a SQL expression over the key column (referenced
    as ``{k}``) that both sides evaluate to a deterministic BLOCKING key;
    only pairs sharing a block become candidates, and candidates verify
    with ``levenshtein(left_key, right_key) <= max_distance``.  This is
    the standard blocking/verification split of record linkage (Fellegi-
    Sunter pipelines, Dedoop, etc.): recall is exactly "true matches
    whose corrupted keys still agree on the block" — choose a block the
    expected corruption cannot touch (e.g. a prefix when errors are
    suffix-typos, a phonetic code for spelling noise).  Precision comes
    from the exact verify.

    Scale shape: ONE equi-join (shuffle or broadcast, Catalyst/AQE's
    choice) on the block key; per-block candidate volume is
    |L_b| x |R_b|, bounded by the block design — never corpus².  The
    levenshtein verify runs in whole-stage codegen on candidates only.
    Cited parity: the reference's `levenshteinLte` FILTER operator
    (QUERY.md:76, README.md:305) compares a column against a constant;
    this is
    its JOIN-shaped generalization for entity resolution.

    Returns (l_id, r_id, l_key, r_key, distance), distance as INT.
    """
    lb = left.select(
        F.col(left_id).cast("long").alias("l_id"),
        F.col(left_key).alias("l_key"),
        F.expr(block_expr.replace("{k}", f"`{left_key}`")).alias("bk"),
    )
    rb = right.select(
        F.col(right_id).cast("long").alias("r_id"),
        F.col(right_key).alias("r_key"),
        F.expr(block_expr.replace("{k}", f"`{right_key}`")).alias("bk"),
    )
    return (
        lb.join(rb, "bk")
        .select(
            "l_id", "r_id", "l_key", "r_key",
            F.levenshtein("l_key", "r_key").alias("distance"),
        )
        .where(F.col("distance") <= max_distance)
    )


def dedup_span_removal(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-SPAN removal (the Lee et al. 2022 "Deduplicating
    Training Data" rewrite, n-gram-indexed instead of suffix-arrayed):
    every token covered by an n-gram that also appears in ≥
    ``min_docs`` documents is DELETED from the text, keeping the
    unique remainder — the step beyond
    :func:`duplicate_ngram_fraction`, which only measures what this
    removes.

    Scale shape: one tokenize scan feeds positional n-grams; the
    duplicated-gram set comes from a gram-keyed aggregation and joins
    BACK on the gram key (an inverted index — the dup set is
    corpus-sized and is never broadcast or collected); matched
    positions explode to covered token indices, one per-doc
    aggregation collects them, and the rewrite is a narrow
    filter-by-position over the token array.  Docs shorter than ``n``
    tokens pass through untouched (left join keeps them).  Returns
    (doc_id, n_tokens, n_removed, cleaned_text).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    positional = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(w) >= {n} THEN "
                f"transform(sequence(0, size(w) - {n}), "
                f"i -> concat_ws(' ', slice(w, i + 1, {n}))) "
                f"ELSE array() END"
            )
        ).alias("i", "gram"),
    )
    dup_grams = (
        positional.select("doc_id", "gram").distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("gram")
    )
    covered = (
        positional.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {n} - 1)")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("cov"))
    )
    return (
        toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("CAST(size(w) AS BIGINT)").alias("n_tokens"),
            F.expr(
                "CAST(coalesce(size(cov), 0) AS BIGINT)"
            ).alias("n_removed"),
            F.expr(
                "concat_ws(' ', filter(zip_with(w, "
                "sequence(0, size(w) - 1), (t, p) -> "
                "CASE WHEN cov IS NULL OR NOT array_contains(cov, p) "
                "THEN t END), x -> x IS NOT NULL))"
            ).alias("cleaned_text"),
        )
    )


def dedup_span_removal_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = 8,
    min_batch_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental duplicate-span removal — the daily-crawl shape of
    :func:`dedup_span_removal`: clean a NEW batch against the frozen
    corpus, deleting batch tokens covered by an n-gram that (a) appears
    ANYWHERE in the corpus, or (b) is shared by ≥ ``min_batch_docs``
    batch documents.  Cost scales with the BATCH (its grams drive every
    join); the corpus contributes only a distinct-gram frame that is
    hash-partitioned once and never collected — bucket the stored gram
    table on `gram` and daily runs co-locate, exactly the
    ``incremental_new_docs`` contract.

    Returns the batch as (doc_id, n_tokens, n_removed, cleaned_text).
    """
    def _positional(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("w"),
        )
        return toks, toks.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(w) >= {n} THEN "
                    f"transform(sequence(0, size(w) - {n}), "
                    f"i -> concat_ws(' ', slice(w, i + 1, {n}))) "
                    f"ELSE array() END"
                )
            ).alias("i", "gram"),
        )

    b_toks, b_pos = _positional(batch)
    _, c_pos = _positional(corpus)
    corpus_grams = c_pos.select("gram").distinct()
    batch_dups = (
        b_pos.select("doc_id", "gram").distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_batch_docs)
        .select("gram")
    )
    dup_grams = corpus_grams.unionByName(batch_dups).distinct()
    covered = (
        b_pos.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {n} - 1)")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("cov"))
    )
    return (
        b_toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("CAST(size(w) AS BIGINT)").alias("n_tokens"),
            F.expr(
                "CAST(coalesce(size(cov), 0) AS BIGINT)"
            ).alias("n_removed"),
            F.expr(
                "concat_ws(' ', filter(zip_with(w, "
                "sequence(0, size(w) - 1), (t, p) -> "
                "CASE WHEN cov IS NULL OR NOT array_contains(cov, p) "
                "THEN t END), x -> x IS NOT NULL))"
            ).alias("cleaned_text"),
        )
    )


def bbit_minhash_pairs(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    b_bits: int = 8,
) -> DataFrame:
    """b-bit minhash (Li & König 2010) scored next to the full-width
    estimate on the same LSH candidates: keep only the low ``b_bits``
    of each minhash slot (``sig mod 2^b`` — the low bits of the 48-bit
    two-hash lattice are uniform), storage shrinks 48/b×, and the raw
    collision rate is debiased by the random-match floor ``C = 2^-b``::

        ĵ_b = (p_match − C) / (1 − C)

    This is THE storage trick for planet-scale near-dup sketches: at
    b=8 a 16-hash signature is 16 bytes instead of 256, so the
    signature table for 10¹⁰ documents fits where the full one would
    not.  The operator returns both estimators per candidate pair so
    the truncation's cost is measurable on real data (ĵ_b is noisier —
    variance grows as matches get rarer — which is exactly what the
    side-by-side shows).

    Same scale shape as :func:`minhash_estimate_pairs`: banded LSH
    candidates only (never all-pairs), per-pair work O(num_hashes).
    All hashing is md5 (DuckDB-replayable bit-for-bit).  Returns
    (d1, d2, matches_full, matches_bbit, est_full, est_bbit),
    one row per LSH candidate pair.
    """
    if b_bits % 4 != 0 or not 4 <= b_bits <= 48:
        raise ValueError("b_bits must be a multiple of 4 in [4, 48]")
    b_mod = 1 << b_bits
    # PIN the signature frame (3 references below — the
    # minhash_lsh_pairs discipline).
    sigs = minhash_frames(docs, k, num_hashes)[1].localCheckpoint(
        eager=False)
    candidates = _lsh_candidates(sigs, num_hashes, bands)
    a = sigs.alias("a")
    b = sigs.alias("b")
    full = sum(
        (F.col(f"a.sig{s}") == F.col(f"b.sig{s}")).cast("int")
        for s in range(num_hashes)
    )
    bbit = sum(
        (F.expr(f"a.sig{s} % {b_mod}")
         == F.expr(f"b.sig{s} % {b_mod}")).cast("int")
        for s in range(num_hashes)
    )
    c_floor = 1.0 / (2 ** b_bits)
    return (
        candidates.join(a, F.col("d1") == F.col("a.doc_id"))
        .join(b, F.col("d2") == F.col("b.doc_id"))
        .select(
            "d1", "d2",
            full.cast("int").alias("matches_full"),
            bbit.cast("int").alias("matches_bbit"),
        )
        .select(
            "d1", "d2", "matches_full", "matches_bbit",
            F.round(F.col("matches_full") / float(num_hashes), 4)
            .alias("est_full"),
            F.expr(
                f"round(greatest((CAST(matches_bbit AS DOUBLE) "
                f"/ {float(num_hashes)!r} - {c_floor!r}) "
                f"/ (1.0d - {c_floor!r}), 0.0d), 4)"
            ).alias("est_bbit"),
        )
    )


def cross_source_duplication(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Which sources copy from which: exact-duplicate document PAIRS
    counted per (source_a, source_b) — the corpus-provenance matrix a
    training-mix builder reads before weighting sources ("crawl B is
    60% re-hosted crawl A").  Within-source duplication lands on the
    diagonal (source_a = source_b).

    Scale shape: one md5-fingerprint aggregation to the (fingerprint,
    source) frame (the :func:`exact_duplicates` key), then a
    fingerprint-KEYED self-join of that small per-source count frame —
    pair counts come from ``n_a·n_b`` (or ``n·(n−1)/2`` on the
    diagonal), never by exploding document pairs, so a fingerprint
    shared by thousands of docs costs one multiplication.  Returns one
    row per source pair with any sharing: (source_a, source_b,
    shared_fingerprints, dup_doc_pairs), ordered.
    """
    per_fp = (
        docs.where(F.col(text_col).isNotNull())
        .groupBy(
            F.md5(F.col(text_col)).alias("fp"),
            F.col(source_col).alias("src"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a, b = per_fp.alias("a"), per_fp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.src") <= F.col("b.src")),
    ).select(
        F.col("a.src").alias("source_a"),
        F.col("b.src").alias("source_b"),
        F.when(
            F.col("a.src") == F.col("b.src"),
            (F.col("a.n") * (F.col("a.n") - 1) / F.lit(2))
            .cast("long"),
        ).otherwise(
            (F.col("a.n") * F.col("b.n")).cast("long")
        ).alias("p"),
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_fingerprints"),
            F.sum("p").cast("long").alias("dup_doc_pairs"),
        )
        .where(F.col("dup_doc_pairs") > 0)
        .orderBy("source_a", "source_b")
    )


def blocking_quality(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """EMPIRICAL blocking-quality report for the MinHash-LSH banding —
    the measured counterpart of the analytic :func:`lsh_tuning_curve`:
    on a labeled sample, how many comparisons does the blocking save
    (reduction ratio) and how many TRUE near-dup pairs does it keep
    (pair completeness)?  The two numbers entity-resolution practice
    tunes blocking by (Christen 2012); at 100 TB this harness runs on
    a sampled slice — the truth side is all-pairs by definition and
    exists to grade the blocking, not to replace it.

    Truth = exact word-k-gram Jaccard ≥ threshold
    (:func:`ngram_jaccard_pairs`); candidates = the banded LSH bucket
    pairs the production path would verify
    (:func:`minhash_lsh_pairs`'s candidate stage, shared signature
    construction).  All counts exact.  Returns one row: (n_docs,
    total_pairs, n_candidates, n_truth, n_hits, reduction_ratio,
    pair_completeness).
    """
    sh, sigs = minhash_frames(docs, k, num_hashes)
    cand = _lsh_candidates(sigs, num_hashes, bands) \
        .localCheckpoint(eager=False)
    truth = ngram_jaccard_pairs(docs, k, threshold) \
        .select("d1", "d2").localCheckpoint(eager=False)
    nd = sigs.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nh = cand.join(truth, ["d1", "d2"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return (
        nd.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_docs",
            F.expr("CAST(n_docs * (n_docs - 1) / 2 AS BIGINT)")
            .alias("total_pairs"),
            "n_candidates", "n_truth", "n_hits",
            F.expr(
                "CAST(round((1.0d - CAST(n_candidates AS DOUBLE) "
                "/ nullif(CAST(n_docs * (n_docs - 1) / 2 AS DOUBLE), "
                "0.0d)) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("reduction_ratio"),
            F.expr(
                "CAST(round(CAST(n_hits AS DOUBLE) "
                "/ nullif(CAST(n_truth AS DOUBLE), 0.0d) "
                "* 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("pair_completeness"),
        )
    )


def fellegi_sunter_weights(
    pairs: DataFrame,
    match_expr: str,
    field_exprs: dict,
) -> DataFrame:
    """Fellegi–Sunter match/unmatch weights from a LABELED candidate-
    pair frame — the probabilistic record-linkage scoring layer on top
    of :func:`fuzzy_join_blocked`: for every comparison field, the
    agreement probability among true matches (m) and among non-matches
    (u), and the log₂ likelihood-ratio weights a linkage rule sums::

        w_agree = log₂(m/u),   w_disagree = log₂((1−m)/(1−u))

    Estimated on a labeled sample (the training step of every FS
    pipeline — at 100 TB the labeled slice is the only supervised
    piece; the weights then score unlabeled candidates at full scale).
    Laplace add-one smoothing keeps both weights finite when a field
    is perfectly discriminating on the sample.  ONE exact-count
    aggregation over the candidate frame; probabilities and weights
    are fixed-order doubles, micro-quantized.  Returns one row per
    field: (field, n_match, n_nonmatch, m_prob, u_prob, weight_agree,
    weight_disagree) ordered by field.
    """
    if not field_exprs:
        raise ValueError("field_exprs must be non-empty")
    is_m = F.expr(f"coalesce(CAST(({match_expr}) AS BOOLEAN), false)")
    aggs = [
        F.sum(F.when(is_m, 1).otherwise(0)).cast("long").alias("nm"),
        F.sum(F.when(~is_m, 1).otherwise(0)).cast("long").alias("nu"),
    ]
    names = sorted(field_exprs)
    for i, name in enumerate(names):
        agree = F.expr(
            f"coalesce(CAST(({field_exprs[name]}) AS BOOLEAN), false)"
        )
        aggs.append(
            F.sum(F.when(is_m & agree, 1).otherwise(0)).cast("long")
            .alias(f"am{i}")
        )
        aggs.append(
            F.sum(F.when(~is_m & agree, 1).otherwise(0)).cast("long")
            .alias(f"au{i}")
        )
    # one row, read once per field by the union arms below
    tot = pairs.agg(*aggs).localCheckpoint(eager=False)
    frames = []
    for i, name in enumerate(names):
        m_p = (f"((CAST(am{i} AS DOUBLE) + 1.0d) "
               "/ (CAST(nm AS DOUBLE) + 2.0d))")
        u_p = (f"((CAST(au{i} AS DOUBLE) + 1.0d) "
               "/ (CAST(nu AS DOUBLE) + 2.0d))")
        w_a = f"(ln(({m_p}) / ({u_p})) / ln(2.0d))"
        w_d = (f"(ln((1.0d - ({m_p})) / (1.0d - ({u_p}))) "
               "/ ln(2.0d))")
        frames.append(tot.select(
            F.lit(name).alias("field"),
            F.col("nm").alias("n_match"),
            F.col("nu").alias("n_nonmatch"),
            F.expr(
                f"CAST(round(({m_p}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("m_prob"),
            F.expr(
                f"CAST(round(({u_p}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("u_prob"),
            F.expr(
                f"CAST(round(({w_a}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("weight_agree"),
            F.expr(
                f"CAST(round(({w_d}) * 1000000.0d) AS BIGINT) / 1e6"
            ).cast("double").alias("weight_disagree"),
        ))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("field")


def _suffix_adjacent_pairs(
    docs: DataFrame,
    k_cap: int,
    id_col: str,
    text_col: str,
    source_col: str,
    num_partitions: int | None,
    pin: bool = True,
):
    """Shared suffix-array adjacency builder for
    :func:`suffix_duplicate_stats` / :func:`suffix_duplicate_passages`.

    Emits every word position's suffix (capped at ``k_cap`` words),
    range-repartitions on the sort key (Spark's distributed range
    sort), and computes each within-partition adjacent pair's LCP via
    a per-partition-id lag window — parallel, never a per-source
    single-task window.  Returns ``(pairs, extras)``: the pairs frame
    (src, s, lcp — lcp NULL on partition-first rows and source
    boundaries) and the <= n_parts-1 cross-partition adjacent pairs
    stitched from the collected partition-boundary rows (bounded,
    loud), as (src, lcp, prefix_words) Python tuples so callers can
    re-inject them distributedly via a tiny union.
    """
    spark = docs.sparkSession
    words = docs.where(
        f"({text_col}) IS NOT NULL AND ({source_col}) IS NOT NULL "
        f"AND ({id_col}) IS NOT NULL"
    ).select(
        F.col(source_col).cast("string").alias("src"),
        F.col(id_col).cast("long").alias("did"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')")
        .alias("w"),
    ).where("size(w) >= 1")
    suf = words.select(
        "src", "did",
        F.expr("explode(sequence(1, size(w)))").alias("pos"),
        "w",
    ).select(
        "src", "did", "pos",
        F.expr(f"slice(w, pos, {int(k_cap)})").alias("s"),
    )
    n_parts = int(num_partitions
                  or spark.sparkContext.defaultParallelism)
    # the boundary collect below executes the range sort; with
    # ``pin=True`` the sorted frame is localCheckpoint-pinned so the
    # caller's aggregation reads the pin instead of sorting the corpus
    # a SECOND time. The pin is the SUFFIX frame — every word position
    # carries its k_cap-word slice, so its storage footprint is ~k_cap
    # x the corpus token count (k_cap=32 => a 100 TB text corpus pins
    # multiple PB of cluster disk). The right trade wherever the sort
    # dominates and the disk exists; ``pin=False`` trades the second
    # sort for zero pinned storage — at the 100 TB end sort-twice may
    # be the only feasible plan, and the result is identical either
    # way (partition-invariance is pinned in tests under both modes).
    # pin=False leans on the re-executed range sort reproducing the
    # SAME partition boundaries the stitch saw (Spark's range sampler
    # is seed-deterministic per input split, and these inputs are
    # deterministic scans) - nondeterministic upstream frames should
    # keep pin=True.
    rp = suf.repartitionByRange(
        n_parts, "src", "s", "did", "pos"
    ).withColumn("pid", F.spark_partition_id())
    if pin:
        rp = rp.localCheckpoint(eager=True)
    # within-partition adjacency: a range partition holds a contiguous
    # slice of the global order, so per-pid lag recovers every adjacent
    # pair except the <= n_parts-1 pairs that straddle partitions
    wnd = Window.partitionBy("pid").orderBy("src", "s", "did", "pos")
    eq_lambda = (
        "zip_with(s, ps, (x, y) -> CASE WHEN x IS NULL OR y IS NULL "
        "THEN CAST(NULL AS INT) WHEN x = y THEN 1 ELSE 0 END)"
    )
    lcp_case = (
        "CASE WHEN ps IS NULL OR psrc IS NULL OR psrc != src "
        "THEN CAST(NULL AS BIGINT) "
        "WHEN array_position(eqv, 0) > 0 "
        "THEN CAST(array_position(eqv, 0) - 1 AS BIGINT) "
        "ELSE CAST(least(size(s), size(ps)) AS BIGINT) END"
    )
    pairs = (
        rp.select(
            "pid", "src", "did", "pos", "s",
            F.lag("s").over(wnd).alias("ps"),
            F.lag("src").over(wnd).alias("psrc"),
        )
        .withColumn("eqv", F.expr(eq_lambda))
        .withColumn("lcp", F.expr(lcp_case))
    )
    # boundary stitch: first+last row per partition (<= 2 x n_parts,
    # bounded and loud), paired across consecutive NON-EMPTY pids
    bnd_w_desc = Window.partitionBy("pid").orderBy(
        F.col("src").desc(), F.col("s").desc(),
        F.col("did").desc(), F.col("pos").desc())
    bnd = (
        rp.select(
            "pid", "src", "did", "pos", "s",
            F.row_number().over(wnd).alias("ra"),
            F.row_number().over(bnd_w_desc).alias("rd"),
        )
        .where("ra = 1 OR rd = 1")
        .collect()
    )
    by_pid: dict[int, dict[str, object]] = {}
    for r in bnd:
        slot = by_pid.setdefault(int(r["pid"]), {})
        if r["ra"] == 1:
            slot["first"] = r
        if r["rd"] == 1:
            slot["last"] = r

    def _cp(a: list, b: list) -> int:
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    extras: list[tuple[str, int, list]] = []
    pids = sorted(by_pid)
    for p, q in zip(pids, pids[1:]):
        a = by_pid[p].get("last") or by_pid[p].get("first")
        b = by_pid[q].get("first") or by_pid[q].get("last")
        if a is None or b is None or a["src"] != b["src"]:
            continue
        a_words = list(a["s"])
        lcp = _cp(a_words, list(b["s"]))
        extras.append((a["src"], lcp, a_words[:lcp]))
    return pairs, extras


def suffix_duplicate_stats(
    docs: DataFrame,
    k_cap: int = 32,
    site_min_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    num_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Suffix-array-style longest-duplicate-substring stats per source —
    the open-ended companion to the fixed-n :func:`repeated_passages`
    family (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499, whose suffix-array pass
    this reproduces at word granularity): instead of asking "how many
    8-grams repeat", it finds the LONGEST repeated word sequence and
    how many near-duplicate sites exist, per source, with no n chosen
    in advance.

    Method (the suffix-array LCP identity): every word position emits
    its suffix (capped at ``k_cap`` words); after sorting all suffixes,
    the longest common prefix of ANY two suffixes is attained by some
    ADJACENT pair in sorted order — so one sort + one lag pass finds
    the exact maximum (capped at ``k_cap``) and counts every adjacent
    pair sharing >= ``site_min_words`` words (``dup_sites``: repeated-
    passage sites, within or across docs of the same source).

    Scale shape: see :func:`_suffix_adjacent_pairs` — distributed
    range sort, per-partition lag, bounded boundary stitch; the result
    is EXACTLY the single-window answer at any partition count (pinned
    in tests).  At 10^10 docs this is one corpus-sized shuffle — the
    same cost profile as the suffix-array dedup it mirrors.
    ``pin=True`` localCheckpoints the sorted suffix frame so the
    corpus sorts ONCE — at ~``k_cap`` x the corpus token count of
    cluster storage (k_cap=32 on 100 TB of text is a multi-PB disk
    commitment); ``pin=False`` sorts twice and pins nothing, the
    feasible plan when that disk does not exist.

    Returns one row per source ordered by source:
    (source, n_positions, longest_dup_words, dup_sites).
    """
    spark = docs.sparkSession
    pairs, extras = _suffix_adjacent_pairs(
        docs, k_cap, id_col, text_col, source_col, num_partitions,
        pin=pin)
    dist = pairs.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_positions"),
        F.max(F.coalesce(F.col("lcp"), F.lit(0)))
        .cast("long").alias("mx"),
        F.sum(F.when(F.col("lcp") >= int(site_min_words), 1)
              .otherwise(0)).cast("long").alias("sites"),
    )
    extra_df = local_frame(
        spark,
        [(s, 0, lcp, 1 if lcp >= int(site_min_words) else 0)
         for s, lcp, _w in extras],
        "src string, n_positions long, mx long, sites long",
    )
    merged = dist.unionByName(extra_df).groupBy("src").agg(
        F.sum("n_positions").cast("long").alias("n_positions"),
        F.max("mx").cast("long").alias("longest_dup_words"),
        F.sum("sites").cast("long").alias("dup_sites"),
    )
    return merged.select(
        F.col("src").alias("source"),
        "n_positions", "longest_dup_words", "dup_sites",
    ).orderBy("source")


def suffix_duplicate_passages(
    docs: DataFrame,
    k_cap: int = 16,
    min_words: int = 8,
    top_n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    num_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """The ACTIONABLE companion of :func:`suffix_duplicate_stats`: the
    top-``top_n`` longest duplicated passages per source — the actual
    text a curator would grep for, strip as boilerplate, or feed to
    :func:`dedup_span_removal`.  A "site" is one adjacent suffix pair
    (sorted order) sharing >= ``min_words`` leading words; the passage
    is those shared words, so nested repeats at different lengths
    surface as separate rows (each the exact prefix its sites share).

    Scale shape: identical to the stats twin (distributed range sort,
    per-partition lag, bounded boundary stitch) plus one aggregation
    keyed on the ALREADY-THRESHOLDED duplicate passages — the window
    rank runs over that small survivor frame, partitioned by source.
    Partition-count invariant (same stitch argument; pinned in tests).
    ``pin`` as in the stats twin: True sorts the corpus once at a
    ~``k_cap`` x token-count storage cost (here k_cap=16 — still a
    PB-scale pin on a 100 TB corpus); False sorts twice, pins nothing.

    Returns up to ``top_n`` rows per source ordered by
    (source, rank): (source, passage, dup_len_words, n_sites, rank) —
    ranked by length desc, sites desc, passage asc.
    """
    spark = docs.sparkSession
    pairs, extras = _suffix_adjacent_pairs(
        docs, k_cap, id_col, text_col, source_col, num_partitions,
        pin=pin)
    hits = pairs.where(F.col("lcp") >= int(min_words)).select(
        "src",
        F.expr("concat_ws(' ', slice(s, 1, CAST(lcp AS INT)))")
        .alias("passage"),
        F.col("lcp").alias("dup_len_words"),
    )
    extra_df = local_frame(
        spark,
        [(s, " ".join(w), lcp) for s, lcp, w in extras
         if lcp >= int(min_words)],
        "src string, passage string, dup_len_words long",
    )
    grouped = hits.unionByName(extra_df).groupBy(
        "src", "passage", "dup_len_words"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_sites"))
    w = Window.partitionBy("src").orderBy(
        F.col("dup_len_words").desc(), F.col("n_sites").desc(),
        F.col("passage").asc())
    return (
        grouped.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_n))
        .select(
            F.col("src").alias("source"), "passage",
            "dup_len_words", F.col("n_sites"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("source", "rank")
    )
