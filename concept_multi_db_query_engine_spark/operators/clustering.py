"""Integer fixed-point k-means over embedding columns.

The codebook-training step the ANN family was missing: `similarity.ivf_*`
partitions vectors around externally supplied centroids; this module
LEARNS those centroids with Lloyd's algorithm, expressed as pure
DataFrame iterations the same way ``graph.pagerank`` is.

Determinism: float k-means is unusable for exact cross-engine
verification — both the distance sums and the centroid means depend on
summation order.  Here every vector is quantized ONCE to integer
micro-units (``round(x·10⁶)``, exact BIGINT), so

* squared L2 distances are exact integer sums (fixed values, any order);
* ties in the nearest-centroid argmin break on the lower centroid id
  via struct ordering — total, reproducible;
* centroid updates are exact integer sums with truncating division
  (Spark ``DIV`` ≡ DuckDB ``//`` toward zero), associative and
  partition-independent.

A sequential DuckDB replay of the same recurrence is bit-identical
after any number of iterations — the property the driver's oracle gate
checks.  The ~1e-6 quantization of the input is the price of exactness;
Lloyd's assignment geometry is unaffected at that resolution.

Scale shape (per iteration):
* assignment is a NARROW MAP — the k centroids travel as one broadcast
  row of k packed arrays; the argmin over k is a per-row
  ``array_min(transform(...))`` expression in whole-stage codegen.  No
  per-iteration shuffle of the vectors, no crossJoin fan-out of k rows
  per vector.
* the update shuffles only per-(cluster, dimension) PARTIAL SUMS
  (map-side combined): k·d rows cross the wire, not |vectors|.
* empty clusters keep their previous centroid (k-row left join).
The quantized vectors are localCheckpoint'ed once (the loop re-reads
them every iteration); lineage on the k-row centroid frame is cut each
round.  Nothing touches the driver except the k-row centroid plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q_SCALE = 10**6  # micro-units: |x| <= ~1e3 still squares well inside BIGINT


def _quantize(vec_col: str):
    # The float element is widened to DOUBLE BEFORE the multiply: float×int
    # would stay float in Spark (and DuckDB), and the two engines' float
    # rounding paths need not agree. double×1e6 is correctly rounded and
    # identical everywhere; round() is half-away-from-zero on both.
    return F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}.0d) AS BIGINT))"
    )


def _quantized_pin(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The fits' quantized pin: (vid, q) with the FULL vector quantized
    once and ``localCheckpoint``-pinned — the loops re-read it every
    iteration.  For PQ one parquet scan and one driver barrier feed
    every subspace, where the old shape paid one scan + one eager pin
    PER subspace.  Quantization is elementwise, so
    ``slice(quantize(v)) == quantize(slice(v))`` and every downstream
    value is bit-identical to the per-slice path."""
    return embeddings.select(
        F.col(id_col).alias("vid"), _quantize(vec_col).alias("q")
    ).localCheckpoint(eager=True)


def _seed_centroids(emb: DataFrame, k: int) -> DataFrame:
    """The k seed centroids (cid, cq) of a (vid, q) frame: global
    bottom-k by id (planned as TakeOrderedAndProject — a TopK, not a
    full sort), then cid 0..k-1 by id order via a sorted-array
    posexplode of the k-row frame — the same ranking a global
    row_number window would give, without the single-partition
    WindowExec."""
    return (
        emb.orderBy("vid")
        .limit(k)
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("vid", "q"))).alias("a"))
        .select(F.posexplode("a").alias("cid", "t"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("t.q").alias("cq"),
        )
    )


def _assign_frame(emb: DataFrame, cent_frame: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of a quantized (vid, q) frame under a
    (cid, cq) centroid frame: centroids pack into ONE broadcast row and
    the argmin over k is a per-row codegen expression — a stateless
    narrow map, valid on batch and on streams.  Any columns beyond
    (vid, q) pass through untouched, so a caller can carry payload
    (raw vectors, norms) through the assignment without a second join
    back on vid."""
    one = cent_frame.groupBy().agg(
        F.expr("array_sort(collect_list(struct(cid, cq)))").alias("cs")
    )
    extra = [c for c in emb.columns if c not in ("vid", "q")]
    return (
        emb.join(F.broadcast(one))
        .select(
            "vid",
            "q",
            *extra,
            F.expr(
                "array_min(transform(cs, c -> struct("
                "aggregate(zip_with(q, c.cq, (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dist2, "
                "c.cid AS cid)))"
            ).alias("m"),
        )
        .select(
            "vid", "q",
            *extra,
            F.col("m.cid").alias("cid"),
            F.col("m.dist2").alias("dist2"),
        )
    )


def _fit_loop(emb: DataFrame, k: int, iterations: int) -> DataFrame:
    """Lloyd training loop over a checkpointed quantized frame; returns
    the final (cid, cq) centroid frame, bound to ``emb``'s session.

    The loop is planned in the fit session (:mod:`._fastiter`: AQE off,
    one shuffle partition — physical-plan-only, values identical).  The
    per-iteration ``localCheckpoint`` is needed: ``cents`` is referenced
    twice per iteration, so an uncut lineage grows exponentially.  It
    is not lazy here either: with AQE off, ``eager=False`` runs the
    plan's broadcasts when it is called — the centroid row the
    assignment reads, and the k-row new-centroid side of the left join,
    whose job runs the iteration's shuffles — 2 jobs and 4 stages an
    iteration at sf0.01, against 4-5 jobs and 7-9 stages under AQE,
    which runs every query stage as its own job.  The centroid frames
    are k rows, so nothing here depends on a runtime size estimate."""
    from ._fastiter import fit_session, rebind

    caller = emb.sparkSession
    emb = rebind(emb, fit_session(caller))
    cents = _seed_centroids(emb, k)
    for _ in range(iterations):
        assigned = _assign_frame(emb, cents)
        dim_sums = (
            assigned.select(
                "cid", F.posexplode("q").alias("pos", "val")
            )
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        new_cents = dim_sums.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s, c))), "
                "t -> t.s DIV t.c)"
            ).alias("ncq")
        )
        cents = (
            cents.join(new_cents, "cid", "left")
            .select("cid", F.coalesce("ncq", "cq").alias("cq"))
            .localCheckpoint(eager=False)
        )
    return rebind(cents, caller)


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the codebook only: returns the k-row (cid, cq) centroid
    frame in micro-units, the FROZEN MODEL :func:`kmeans_encode` applies
    to any other frame (a held-out corpus, or a stream).  Same seeds,
    recurrence, and determinism contract as :func:`kmeans_assign`."""
    if k < 1 or iterations < 0:
        raise ValueError("need k >= 1 and iterations >= 0")
    emb = _quantized_pin(embeddings, id_col, vec_col)
    return _fit_loop(emb, k, iterations)


def kmeans_encode(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment under a frozen (cid, cq) centroid frame — model
    INFERENCE, split from training: a stateless narrow map (quantize +
    broadcast-join + per-row argmin) with no checkpoint and no
    aggregation on the vector side, so the same code runs on a batch
    corpus or as the streaming side of a stream-static join (encode
    vectors as they arrive, train nightly)."""
    emb = embeddings.select(
        F.col(id_col).alias("vid"), _quantize(vec_col).alias("q")
    )
    return _assign_frame(emb, centroids).select(
        F.col("vid").alias(id_col),
        F.col("cid").alias("cluster"),
        F.col("dist2").alias("dist2_scaled"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means; returns the final assignment
    (id, cluster, dist2_scaled) with ``dist2_scaled`` the exact integer
    squared distance in 1e-12 units (micro-unit squares).

    Init: the k lowest-id vectors (deterministic, engine-independent —
    k-means++ needs an RNG stream the oracle could not replay; salt the
    ids upstream if the low ids are pathological).  ``iterations``
    counts centroid updates; the returned assignment is under the final
    centroids.  (Train-then-apply across different frames:
    :func:`kmeans_fit` + :func:`kmeans_encode`.)
    """
    if k < 1 or iterations < 0:
        raise ValueError("need k >= 1 and iterations >= 0")
    emb = _quantized_pin(embeddings, id_col, vec_col)
    cents = _fit_loop(emb, k, iterations)
    return _assign_frame(emb, cents).select(
        F.col("vid").alias(id_col),
        F.col("cid").alias("cluster"),
        F.col("dist2").alias("dist2_scaled"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster cardinalities + centroid L2 norms under the final model —
    the k-row training summary (cluster, size, inertia_scaled, norm2).
    ``inertia_scaled`` is the exact integer within-cluster squared-error
    sum; one aggregation over the final assignment."""
    a = kmeans_assign(embeddings, k, iterations, id_col, vec_col)
    return (
        a.groupBy(F.col("cluster"))
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.sum("dist2_scaled").alias("inertia_scaled"),
        )
        .orderBy("cluster")
    )


def _pq_dist2(q_expr: str, cq_expr: str) -> str:
    """Exact integer squared distance between two quantized arrays —
    the one fold every PQ path shares."""
    return (
        f"aggregate(zip_with({q_expr}, {cq_expr},"
        " (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _pq_fit_all(
    emb_q: DataFrame, dim: int, m: int, k: int, iterations: int
) -> DataFrame:
    """All m per-subspace codebooks in ONE fused Lloyd loop over the
    shared quantized pin; returns the combined (s, cid, cq) codebook
    frame (m·k rows).

    Fusing is a pure batching of the m independent recurrences: every
    subspace's assignment, dimension sums, and centroid update are the
    same exact integer expressions the per-subspace loop evaluates, so
    each codebook is bit-identical — but one iteration is now ONE
    broadcast of the m·k-row codebook + ONE shuffle of the m·k·(dim/m)
    dimension-sum rows + ONE checkpoint, where the sequential fits paid
    each of those PER SUBSPACE (m× the driver jobs for the same work).
    The seed rows (bottom-k by vid) do not depend on the vector values
    at all, so they too are computed once and sliced per subspace.
    Planned in the fit session like :func:`_fit_loop` — in-loop
    exchanges carry at most m·k·d rows at any corpus scale; the
    codebook frame comes back bound to ``emb_q``'s session."""
    from ._fastiter import fit_session, rebind

    caller = emb_q.sparkSession
    emb_q = rebind(emb_q, fit_session(caller))
    sub = dim // m
    cents = _seed_centroids(emb_q, k).select(
        "cid",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> struct("
                f"CAST(s AS INT) AS s, "
                f"slice(cq, s * {sub} + 1, {sub}) AS cq))"
            )
        ).alias("sc"),
    ).select(F.col("sc.s").alias("s"), "cid", F.col("sc.cq").alias("cq"))
    for _ in range(iterations):
        one = cents.groupBy().agg(
            F.expr("array_sort(collect_list(struct(s, cid, cq)))")
            .alias("css")
        )
        assigned = (
            emb_q.join(F.broadcast(one))
            .select(
                "q",
                F.explode(
                    F.expr(
                        f"transform(sequence(0, {m - 1}), s -> struct("
                        "CAST(s AS INT) AS s, "
                        "array_min(transform(filter(css, c -> c.s = s),"
                        " c -> struct("
                        + _pq_dist2(f"slice(q, s * {sub} + 1, {sub})",
                                    "c.cq")
                        + " AS dist2, c.cid AS cid))).cid AS cid))"
                    )
                ).alias("sa"),
            )
            .select(
                F.col("sa.s").alias("s"),
                F.col("sa.cid").alias("cid"),
                "q",
            )
        )
        dim_sums = (
            assigned.select(
                "s", "cid",
                F.posexplode(
                    F.expr(f"slice(q, s * {sub} + 1, {sub})")
                ).alias("pos", "val"),
            )
            .groupBy("s", "cid", "pos")
            .agg(
                F.sum("val").alias("sm"),
                F.count(F.lit(1)).alias("c"),
            )
        )
        new_cents = dim_sums.groupBy("s", "cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, sm, c))),"
                " t -> t.sm DIV t.c)"
            ).alias("ncq")
        )
        cents = (
            cents.join(new_cents, ["s", "cid"], "left")
            .select("s", "cid", F.coalesce("ncq", "cq").alias("cq"))
            .localCheckpoint(eager=False)
        )
    return rebind(cents, caller)


def _pq_assign_all(
    emb_q: DataFrame, cents: DataFrame, dim: int, m: int
) -> DataFrame:
    """All-subspace assignment in ONE narrow pass over the shared pin:
    the combined (s, cid, cq) codebook packs into a single one-row
    broadcast, and each subspace's argmin is a per-row codegen
    expression over ``slice(q, ...)`` against its ``filter(css, ...)``
    slice.  Returns (vid, m0..m{m-1}) with ``m{s}`` a (dist2, cid)
    struct — one broadcast, zero exchanges, zero unions on the corpus
    side."""
    sub = dim // m
    one = cents.groupBy().agg(
        F.expr("array_sort(collect_list(struct(s, cid, cq)))").alias("css")
    )
    return emb_q.join(F.broadcast(one)).select(
        "vid",
        *[
            F.expr(
                f"array_min(transform(filter(css, c -> c.s = {s}),"
                " c -> struct("
                + _pq_dist2(f"slice(q, {s * sub + 1}, {sub})", "c.cq")
                + " AS dist2, c.cid AS cid)))"
            ).alias(f"m{s}")
            for s in range(m)
        ],
    )


def _pq_tables(
    queries: DataFrame, cents: DataFrame, q_in: str,
    vec_col: str, dim: int, m: int,
) -> DataFrame:
    """Per-query ADC distance tables — |queries|·m·k rows from ONE
    broadcast of the combined codebook exploded against the (small)
    query side; quantize-then-slice equals the old slice-then-quantize
    per subspace, so every distance is the same exact integer."""
    sub = dim // m
    one = cents.groupBy().agg(
        F.expr("array_sort(collect_list(struct(s, cid, cq)))").alias("css")
    )
    return (
        queries.select(
            F.col(q_in).alias("qid"), _quantize(vec_col).alias("qq")
        )
        .join(F.broadcast(one))
        .select("qid", "qq", F.explode("css").alias("c"))
        .select(
            "qid",
            F.col("c.s").alias("ts"),
            F.col("c.cid").alias("cid"),
            F.expr(
                _pq_dist2(f"slice(qq, c.s * {sub} + 1, {sub})", "c.cq")
            ).alias("d"),
        )
    )


def _pq_table_maps(
    queries: DataFrame, cents: DataFrame, q_in: str,
    vec_col: str, dim: int, m: int, k: int,
) -> DataFrame:
    """One row per query: the ADC distance table folded into a MAP
    keyed ``s·65536 + cid`` (every (s, cid) the codebook holds — a
    candidate's code is always a codebook cid, so lookups never miss).
    Lets scoring compute a candidate's full ADC sum INLINE from its
    m-code array instead of joining m exploded code rows against m·k
    table rows and re-aggregating per (query, vector).  A codebook of
    ``k >= 65536`` centroids would collide keys, so it raises."""
    if k >= 65536:
        raise ValueError(
            f"PQ codebook size k={k} must be below 65536: the ADC table "
            "keys pack subspace*65536 + centroid id")
    return _pq_tables(queries, cents, q_in, vec_col, dim, m) \
        .groupBy("qid").agg(
            F.map_from_entries(F.collect_list(F.struct(
                (F.col("ts").cast("bigint") * 65536
                 + F.col("cid").cast("bigint")).alias("key"),
                F.col("d").alias("value"),
            ))).alias("__tab")
        )


def _pq_adc_expr(m: int) -> str:
    """Inline ADC sum: m exact-integer map lookups folded in subspace
    order (BIGINT addition — order-free, so it equals the old
    ``sum(d)`` over joined rows bit-for-bit)."""
    return (
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT), (acc, s) -> "
        "acc + element_at(__tab, CAST(s AS BIGINT) * 65536 + "
        "CAST(element_at(__codes, s + 1) AS BIGINT)))"
    )


def pq_encode(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization: split each vector into ``m`` subvectors,
    train an independent ``k``-code codebook per subspace, and emit
    each vector's code word — the compression layout behind
    billion-vector ANN indexes (an IVF-PQ index stores these
    m·log2(k)-bit codes instead of the raw floats, a 64-byte 64-dim
    float vector becoming m bytes).

    Returns (id, codes array<bigint> of length m ordered by subspace,
    recon_err_scaled) — ``recon_err_scaled`` the exact integer total
    squared quantization error in micro-unit² (the sum of the m
    subspace distances, since subspaces are orthogonal coordinates).
    One output row per input row (ids are assumed unique, as in any
    vector index).

    Scale shape: the corpus is scanned ONCE and quantized into a
    shared pin (:func:`_quantized_pin`); the m codebooks fit over lazy slice
    (:func:`_pq_fit_all` — ONE fused Lloyd loop: one codebook
    broadcast + one m·k·d-row shuffle per iteration for ALL m
    subspaces), and encoding is a SINGLE narrow map
    over the pin with all m broadcast codebooks
    (:func:`_pq_assign_all`) — no union, no groupBy, zero exchanges
    on the corpus side.  The old shape paid m corpus scans + m eager
    pins + an m-way union into a corpus-wide groupBy.  Training still
    reads the pin m·(iterations+1) times; production PQ fits
    codebooks on a sample and encodes the rest with a frozen model —
    pass a deterministic sample (e.g. a ``text.hash_split`` bucket)
    as ``embeddings`` to reproduce that, or keep the full corpus for
    the exact-replay contract here.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    emb_q = _quantized_pin(embeddings, id_col, vec_col)
    cents = _pq_fit_all(emb_q, dim, m, k, iterations)
    enc = _pq_assign_all(emb_q, cents, dim, m)
    err = None
    for s in range(m):
        d = F.col(f"m{s}.dist2")
        err = d if err is None else err + d
    return enc.select(
        F.col("vid").alias(id_col),
        F.array(*[F.col(f"m{s}.cid") for s in range(m)]).alias("codes"),
        err.cast("long").alias("recon_err_scaled"),
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half
    of IVF-PQ: the corpus is represented ONLY by its m-byte code words;
    each query precomputes an m×k table of exact integer distances from
    its subvectors to the codebook centroids, and a candidate's score is
    m table lookups summed.  This is why PQ scales: scoring never touches
    the original vectors.

    Scale shape: the corpus is scanned ONCE into the shared quantized
    pin (:func:`_quantized_pin`); the m codebooks fit in ONE fused Lloyd loop
    (:func:`_pq_fit_all`), the (vid, subspace, code) frame is
    ONE narrow pass over the pin (all m broadcast argmins at once, then
    a narrow posexplode — no per-subspace corpus scan, no m-way union);
    the distance tables are |queries|·m·k rows built by broadcasting
    the k-row codebooks against the (small, as in
    ``topk_cosine_bruteforce``) query side; scoring is a broadcast join
    of the tables onto the (vid, subspace, code) rows with a
    map-side-combined sum per (query, vector) — all integers, so the
    ADC ranking (ties broken by vec_id) is exact and
    engine-independent.  Returns (query_id, vec_id, adc_dist2, rank);
    a query matches its own code word at its reconstruction distance
    (filter ``query_id != vec_id`` downstream for kNN semantics).
    """
    from pyspark.sql import Window

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    # the query frame keys by query_id_col when present (a frame keyed
    # "query_id" must not be read through the corpus' id_col)
    q_in = query_id_col if query_id_col in queries.columns else id_col
    emb_q = _quantized_pin(embeddings, id_col, vec_col)
    cents = _pq_fit_all(emb_q, dim, m, k, iterations)
    # inline ADC: one code ARRAY per vid crossed with the broadcast
    # per-query table MAP, the m lookups summed in a codegen fold — no
    # posexplode, no m-way join blowup, no (qid, vid) re-aggregation
    # exchange (the old shape's only non-broadcast shuffle here)
    codes = _pq_assign_all(emb_q, cents, dim, m).select(
        "vid",
        F.array(*[F.col(f"m{s}.cid") for s in range(m)]).alias("__codes"),
    )
    tabs = _pq_table_maps(queries, cents, q_in, vec_col, dim, m, k)
    scored = codes.crossJoin(F.broadcast(tabs)).select(
        "qid", "vid", F.expr(_pq_adc_expr(m)).alias("adc_dist2"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("adc_dist2").asc(), F.col("vid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            "adc_dist2",
            "rank",
        )
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 3,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with k-means, then compare
    embeddings ONLY within their cluster and report pairs whose cosine
    exceeds ``threshold`` — the clustering bounds the pair space to
    O(n²/k) instead of all-pairs, which is the entire trick that made
    semantic dedup feasible on LAION/C4 scale corpora.

    Assignment reuses :func:`kmeans_assign` (integer fixed-point,
    oracle-replayable); the within-cluster join is a plain shuffle join
    keyed by cluster with an ``id < id`` canonical ordering, and the
    cosine is a codegen'd ``zip_with``/``aggregate`` fold rounded to 6
    decimals (the knn_graph determinism convention).  At corpus scale,
    grow ``k`` with n so the expected cluster size n/k stays bounded —
    cluster size is the only superlinear term.  Returns
    (cluster, d1, d2, cosine ≥ threshold).
    """
    from .similarity import _with_norm

    # Frozen-model assignment as a NARROW MAP carrying the payload:
    # train the codebook once (kmeans_fit pins the quantized frame),
    # then tag each (vid, v, norm2) row with its cluster via the
    # broadcast argmin — the old shape assigned first and joined the
    # norms back on vid, which shuffled the corpus twice more (once
    # per self-join side). Same centroids, same argmin on the same
    # quantized coordinates → identical clusters.
    cents = kmeans_fit(embeddings, k, iterations, id_col, vec_col)
    src = _assign_frame(
        _with_norm(embeddings, id_col, vec_col)
        .withColumn("q", _quantize("v")),
        cents,
    ).select("vid", F.col("cid").alias("cluster"), "v", "norm2")
    # Salt the within-cluster self-join: its only equi-key is the
    # cluster id, so join parallelism is capped at k — fine at corpus
    # scale where k grows with n, but k << cores leaves most of the
    # machine idle on the O(n²/k) cosine folds. Deterministic salt
    # (vid mod S) on the left, S-way replicated right, S sized from
    # the session's parallelism so the salt DISAPPEARS (S = 1, no
    # replication branch) once k alone saturates the cluster — the
    # scale-adaptive knob the optimization guide's skew section
    # prescribes. Each (d1, d2) pair still meets exactly once: the
    # left row's salt selects exactly one of the S right replicas.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    s_buckets = max(1, (2 * par + k - 1) // k)
    b = src.select(
        F.col("vid").alias("vid2"),
        F.col("cluster").alias("cluster2"),
        F.col("v").alias("v2"),
        F.col("norm2").alias("n2b"),
    )
    if s_buckets > 1:
        a = src.withColumn(
            "__salt", F.pmod(F.col("vid"), F.lit(s_buckets))
        )
        b = b.withColumn(
            "__rs",
            F.explode(F.expr(f"sequence(0, {s_buckets - 1})")),
        )
        pair_cond = (
            (F.col("cluster") == F.col("cluster2"))
            & (F.col("__salt") == F.col("__rs"))
            & (F.col("vid") < F.col("vid2"))
        )
    else:
        a = src
        pair_cond = (
            (F.col("cluster") == F.col("cluster2"))
            & (F.col("vid") < F.col("vid2"))
        )
    dot = (
        "aggregate(zip_with(v, v2, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    cos = f"round({dot} / sqrt(norm2 * n2b), 6)"
    return (
        a.join(b, pair_cond)
        .select(
            "cluster",
            F.col("vid").alias("d1"),
            F.col("vid2").alias("d2"),
            F.expr(cos).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    n_cells: int = 4,
    n_probe: int = 2,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the full billion-vector
    index shape (Jégou et al. 2011) composed from this module's frozen
    models: a COARSE k-means quantizer partitions the corpus into
    ``n_cells`` inverted lists, each query probes only its ``n_probe``
    nearest cells, and candidates are scored by asymmetric distance
    over ``m``-byte PQ codes — the corpus' raw vectors are never
    touched at search time.

    Scale shape, piece by piece:
    * ONE corpus scan feeds everything: the shared quantized pin
      (:func:`_quantized_pin`) seeds the coarse fit, the corpus cell
      assignment, the m per-subspace codebook fits (ONE fused Lloyd loop,
      :func:`_pq_fit_all`), and the code frame — the old shape paid a
      parquet scan + eager pin per subspace plus two more for the
      coarse quantizer;
    * the query→cell probe ranks the ``n_cells``-row centroid frame
      per query (broadcast; queries are the small side, as in
      ``topk_cosine_bruteforce``);
    * the candidate set is ONE hash join of the corpus cell assignment
      against the probed (query, cell) pairs — candidate volume is
      ~``n_probe/n_cells`` of |corpus| per query, the IVF contract;
    * ADC scoring joins candidates to their m code rows (one narrow
      pass over the pin + posexplode, :func:`_pq_assign_all`) and the
      broadcast |queries|·m·k distance tables, then one
      map-side-combined sum per (query, vector).
    Exact integer arithmetic end to end (micro-unit quantization), so
    ranking ties (broken by vec_id) replay bit-identically in SQL.
    Returns (query_id, vec_id, adc_dist2, rank).
    """
    from pyspark.sql import Window

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if not 1 <= n_probe <= n_cells:
        raise ValueError("need 1 <= n_probe <= n_cells")
    # the query frame keys by query_id_col when present (a frame keyed
    # "query_id" must not be read through the corpus' id_col)
    q_in = query_id_col if query_id_col in queries.columns else id_col
    # coarse quantizer: train + encode the corpus off the shared pin
    emb_q = _quantized_pin(embeddings, id_col, vec_col)
    coarse = _fit_loop(emb_q, n_cells, iterations).localCheckpoint(
        eager=True
    )
    cells = _assign_frame(emb_q, coarse).select(
        "vid", F.col("cid").alias("cell")
    )
    qq = queries.select(
        F.col(q_in).alias("qid"), _quantize(vec_col).alias("q")
    )
    qcell = qq.crossJoin(F.broadcast(coarse)).select(
        "qid", "cid",
        F.expr(
            "aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("cd2"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("cd2").asc(), F.col("cid").asc()
    )
    probed = (
        qcell.withColumn("__pr", F.row_number().over(wq))
        .where(F.col("__pr") <= n_probe)
        .select("qid", F.col("cid").alias("cell"))
    )
    cands = probed.join(cells, "cell").select("qid", "vid")
    # fused per-subspace PQ codebooks off the shared pin, codes in one
    # narrow pass; ADC is INLINE — each candidate joins its m-code
    # array (one keyed join on vid) and the broadcast per-query table
    # map, and the m lookups sum in a codegen fold.  The old shape
    # exploded codes to m rows, multiplied them through a 3-condition
    # broadcast join against the m·k table rows, and re-aggregated per
    # (qid, vid) — an extra exchange of |cands|·m rows, both removed.
    cents = _pq_fit_all(emb_q, dim, m, k, iterations)
    codes = _pq_assign_all(emb_q, cents, dim, m).select(
        "vid",
        F.array(*[F.col(f"m{s}.cid") for s in range(m)]).alias("__codes"),
    )
    tabs = _pq_table_maps(queries, cents, q_in, vec_col, dim, m, k)
    scored = (
        cands.join(codes, "vid")
        .join(F.broadcast(tabs), "qid")
        .select("qid", "vid", F.expr(_pq_adc_expr(m)).alias("adc_dist2"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("adc_dist2").asc(), F.col("vid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            "adc_dist2",
            "rank",
        )
    )


def label_silhouette(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Simplified silhouette per label class (Rousseeuw 1987; the
    centroid-based O(n·k) variant, not the O(n²) pairwise one): for
    each point, ``a`` = distance to its OWN label centroid, ``b`` =
    distance to the nearest OTHER centroid, ``s = (b − a) /
    max(a, b)`` — then averaged per label.  The standard "do these
    labels actually cluster in embedding space" audit run before
    trusting a labeled corpus (or a clustering) as training signal.

    Determinism: coordinates quantize to exact micro BIGINTs at the
    scan; centroid sums accumulate in DECIMAL(38,0) (order-free exact
    integers) and convert to double once, correctly rounded; distances
    are fixed-ascending-order folds of IEEE add/mul plus one sqrt
    (sqrt IS correctly rounded everywhere, unlike ln/pow) — so every
    silhouette value is cross-engine bit-stable, finished with the
    usual micro quantization.

    Plan shape: scan 1 feeds ONE (label, coord) hash aggregate (k·d
    model rows, map-side combined); the k centroids ride in a ONE-ROW
    broadcast (localCheckpoint'd — keeps the scoring plan a pure
    narrow map); scan 2 scores every point with zero joins and zero
    shuffles before the final k-group aggregate.  At 100 TB: two
    corpus scans, one k·d-row shuffle, nothing else.

    Returns one row per label: (label, n_points, n_scored,
    mean_sil_micro, mean_sil), ordered by label.  ``n_scored`` drops
    points whose s is undefined (a = b = 0, or a single label).
    """
    pts = embeddings.where(
        f"{vec_col} IS NOT NULL AND {label_col} IS NOT NULL"
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("long").alias("__lbl"),
        F.expr(
            f"transform(CAST({vec_col} AS ARRAY<DOUBLE>), "
            "x -> CAST(round(x * 1000000.0d) AS BIGINT))"
        ).alias("__xq"),
    )
    coords = (
        pts.select("__lbl", F.posexplode("__xq").alias("__i", "__q"))
        .groupBy("__lbl", "__i")
        .agg(
            F.sum("__q").cast("decimal(38,0)").alias("__s"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
    )
    cents = (
        coords.groupBy("__lbl")
        .agg(
            F.max("__n").alias("__n"),
            F.expr("array_sort(collect_list(struct(__i, __s)))")
            .alias("__arr"),
        )
        .select(
            "__lbl",
            F.expr(
                "transform(__arr, t -> CAST(t.__s AS DOUBLE) "
                "/ CAST(__n AS DOUBLE) / 1000000.0)"
            ).alias("__c"),
        )
    )
    cents_row = cents.agg(
        F.expr("array_sort(collect_list(struct(__lbl, __c)))")
        .alias("__cents")
    ).localCheckpoint(eager=True)

    def dist(carr: str) -> str:
        return (
            f"sqrt(aggregate(zip_with(__v, {carr}, "
            "(x, y) -> (x - y) * (x - y)), 0.0d, "
            "(acc, t) -> acc + t) + 0.0)"
        )

    scored = (
        pts.crossJoin(F.broadcast(cents_row))
        .withColumn(
            "__v",
            F.expr("transform(__xq, q -> CAST(q AS DOUBLE) / 1000000.0)"),
        )
        .withColumn(
            "__a",
            F.expr(
                "CASE WHEN size(filter(__cents, s -> s.__lbl = __lbl)) "
                f"= 1 THEN {dist('filter(__cents, s -> s.__lbl = __lbl)[0].__c')} END"
            ),
        )
        .withColumn(
            "__b",
            F.expr(
                "array_min(transform(filter(__cents, "
                f"s -> s.__lbl != __lbl), s -> {dist('s.__c')}))"
            ),
        )
        .withColumn(
            "__s_micro",
            F.expr(
                "CAST(round((__b - __a) "
                "/ nullif(greatest(__a, __b), 0.0) "
                "* 1000000.0) AS BIGINT)"
            ),
        )
    )
    return (
        scored.groupBy(F.col("__lbl").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.count("__s_micro").cast("long").alias("n_scored"),
            F.expr(
                "CAST(round(CAST(sum(__s_micro) AS DOUBLE) "
                "/ nullif(CAST(count(__s_micro) AS DOUBLE), 0.0)) "
                "AS BIGINT)"
            ).alias("mean_sil_micro"),
        )
        .withColumn(
            "mean_sil", F.col("mean_sil_micro").cast("double") / 1e6
        )
        .orderBy("label")
    )
