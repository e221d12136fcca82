"""Similarity search over an embedding column (array<float>).

- ``topk_cosine_bruteforce``: exact top-k per query — the correctness
  baseline, and perfectly adequate whenever |queries| × |corpus| pairs fit a
  shuffle (queries side is broadcast).
- ``topk_cosine_lsh``: sign-random-projection bucketing — the scale path.
  Hyperplanes here are the first ``bits`` coordinate axes (deterministic, so
  the oracle can replay it); swap in seeded random hyperplanes for production
  by broadcasting a hyperplane matrix.

All math is double-precision built-in array expressions; ranking ties are
broken by vec_id so results are fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

_DOT = (
    "aggregate(zip_with(q.v, c.v, (x, y) -> CAST(x AS DOUBLE) * "
    "CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
)


def _with_norm(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.expr(
            f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        ).alias("norm2"),
    )


def topk_cosine_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Scale shape: the (small) query matrix is broadcast; every corpus
    partition computes partition-rows × queries with one BLAS matmul and
    prunes to its LOCAL top-k per query (partition-side top-k bounds shuffle
    output at k × partitions × |queries| rows); a final window merge yields
    the exact global top-k. Output: (query_id, vec_id, cosine, rank)."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    q_rows = queries.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).collect()
    q_ids = np.array([r["vid"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["v"] for r in q_rows], dtype=np.float64)
    q_norms = np.sqrt((q_mat * q_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    src = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    )

    def part(batches):
        ids_q, mat_q, norms_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vid"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["v"]), dtype=np.float64)
            c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
            # queries × partition-rows similarity block
            sims = (mat_q @ c_mat.T) / np.outer(norms_q, c_norms)
            sims = np.round(sims, 6)
            out = []
            for qi in range(len(ids_q)):
                s = sims[qi]
                valid = c_ids != ids_q[qi]
                idx = np.nonzero(valid)[0]
                if len(idx) == 0:
                    continue
                # local top-k (sorted by -sim, then vec_id for determinism)
                order = np.lexsort((c_ids[idx], -s[idx]))[:k]
                sel = idx[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": ids_q[qi],
                            "vec_id": c_ids[sel],
                            "cosine": s[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = src.mapInPandas(
        part, schema="query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _ivf_candidates(
    embeddings: DataFrame,
    queries: DataFrame,
    max_probe: int,
    id_col: str,
    vec_col: str,
    cluster_col: str,
) -> DataFrame:
    """Shared IVF candidate generator: exact cosines of every corpus
    vector in each query's ``max_probe`` nearest cells, tagged with
    ``crank`` — the probe rank of the cell that admitted the
    candidate.  ``where(crank <= p)`` reproduces the exact p-probe
    candidate set for any p <= max_probe, which is what lets
    :func:`ivf_tuning_curve` build the index ONCE and sweep probe
    settings by filter (it used to rebuild centroids + assignment per
    tested p — 15 corpus scans for a 3-point curve)."""
    dot_cv = (
        "aggregate(zip_with(v, cv, (x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    )
    norm_cv = (
        "aggregate(cv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"
    )

    # PIN the centroid table (tiny: cells x dim) — it is referenced by
    # BOTH the corpus assignment and the query probes, and un-pinned
    # each reference re-ran the centroid aggregation over the corpus
    centroids = (
        embeddings.select(
            F.col(cluster_col).alias("cid"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .groupBy("cid", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(20,8)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cx")
        )
        .groupBy("cid")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc")
        )
        .select("cid", F.expr("transform(pc, p -> p.cx)").alias("cv"))
    ).localCheckpoint(eager=False)

    def nearest_cells(df: DataFrame, n: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(centroids)).select(
            "vid", "v", "norm2", "cid",
            (
                F.expr(dot_cv)
                / F.sqrt(F.col("norm2") * F.expr(norm_cv))
            ).alias("ccos"),
        )
        w = Window.partitionBy("vid").orderBy(
            F.col("ccos").desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .where(F.col("crank") <= n)
        )

    corpus = nearest_cells(_with_norm(embeddings, id_col, vec_col), 1).select(
        F.col("vid").alias("c_vid"), F.col("v").alias("c_v"),
        F.col("norm2").alias("c_norm2"), "cid",
    )
    probes = nearest_cells(_with_norm(queries, id_col, vec_col), max_probe)
    return (
        corpus.join(F.broadcast(probes), "cid")
        .where(F.col("vid") != F.col("c_vid"))
        .select(
            F.col("vid").alias("query_id"),
            F.col("c_vid").alias("vec_id"),
            F.round(
                F.expr(
                    "aggregate(zip_with(v, c_v, (x, y) -> "
                    "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                    "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
                )
                / F.sqrt(F.col("norm2") * F.col("c_norm2")),
                6,
            ).alias("cosine"),
            "crank",
        )
    )


def topk_cosine_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer partitions
    the corpus into cells; each query probes only the ``n_probe`` nearest
    cells and ranks exactly within them.

    The quantizer here is one k-means step seeded by ``cluster_col``: cell
    centroids are the element-wise means of each cluster's vectors, then
    every vector is re-assigned to its nearest centroid by cosine. Centroid
    components are computed as exact decimal sums / count, so the quantizer
    is bit-identical under any partitioning (and in the DuckDB oracle).

    Scale shape: centroids are tiny (|cells| × dim) and broadcast; corpus
    assignment is one narrow map over the vectors; the probe join touches
    n_probe/|cells| of the corpus per query instead of all of it. This is
    the standard ANN layout for billion-vector corpora (IVF-Flat).
    Output: (query_id, vec_id, cosine, rank).
    """
    scored = _ivf_candidates(
        embeddings, queries, n_probe, id_col, vec_col, cluster_col
    ).drop("crank")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _sign_bucket_sql(bits: int, hyperplanes: list[list[float]] | None
                     ) -> str:
    """Sign-LSH bucket expression over a vector column ``v``: the
    default signs the first ``bits`` coordinates; with ``hyperplanes``
    each bit is the sign of one projection, coefficient literals baked
    into codegen (no shuffle, no per-row hashing; the deterministic
    matrix regenerates from its salt on any engine)."""
    if hyperplanes is None:
        return (
            f"aggregate(sequence(0, {bits - 1}), 0, (acc, i) -> "
            "acc * 2 + CASE WHEN CAST(v[i] AS DOUBLE) > 0.0 THEN 1 "
            "ELSE 0 END)"
        )
    if len(hyperplanes) != bits:
        raise ValueError("need one hyperplane per bit")
    in_dim = len(hyperplanes[0])
    parts = []
    for j, row in enumerate(hyperplanes):
        lits = ", ".join(f"{c!r}d" for c in row)
        proj = (
            f"aggregate(sequence(1, {in_dim}), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + element_at(array({lits}), i) * "
            f"CAST(element_at(v, i) AS DOUBLE))"
        )
        parts.append(
            f"(CASE WHEN {proj} > 0.0d THEN {1 << (bits - 1 - j)} "
            f"ELSE 0 END)"
        )
    return " + ".join(parts)


def topk_cosine_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hyperplanes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-bucket,
    ranked exactly within the bucket.

    The default bucket hash signs the first ``bits`` coordinates —
    simplest, but correlated coordinates bucket unevenly.  Pass
    ``hyperplanes`` (``bits`` rows of ``dim`` coefficients, e.g.
    :func:`random_projection_signs`) for true sign-random-projection
    LSH: each bit is the sign of one projection, the coefficient
    literals are baked into codegen exactly like
    :func:`random_projection` (no shuffle, no per-row hashing), and the
    deterministic matrix regenerates from its salt on any engine.

    2^bits buckets → the pair join shrinks by ~2^bits; recall is tunable
    via bits (fewer bits = more candidates = higher recall). Output:
    (query_id, vec_id, cosine, rank)."""
    bucket_sql = _sign_bucket_sql(bits, hyperplanes)

    def bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", F.expr(bucket_sql))

    corpus = bucketed(_with_norm(embeddings, id_col, vec_col)).alias("c")
    q = bucketed(_with_norm(queries, id_col, vec_col)).alias("q")
    scored = (
        corpus.join(
            F.broadcast(q),
            (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.vid") != F.col("c.vid")),
        )
        .select(
            F.col("q.vid").alias("query_id"),
            F.col("c.vid").alias("vec_id"),
            F.round(
                F.expr(_DOT) / F.sqrt(F.col("q.norm2") * F.col("c.norm2")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ann_recall_at_k(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pin: bool = True,
) -> DataFrame:
    """Recall@k of the sign-LSH index against the exact brute-force
    baseline — the standard calibration step before committing an ANN
    layout at scale (tune ``bits`` until recall meets target; fewer bits =
    bigger buckets = higher recall and cost). Returns one row per query:
    (query_id, n_exact, n_hits, recall).

    Both sides are deterministic (exact cosine ranking, axis-sign buckets),
    so the whole metric is value-checkable against a SQL oracle. The
    brute-force side is the expensive leg — at billion-vector scale run
    this on a sampled query set, which is exactly how recall is measured
    in practice.

    ``pin=True`` (default) materializes the exact leg eagerly at call
    time — construction launches Spark jobs; ``pin=False`` keeps the
    returned plan fully lazy for callers that only compose plans (the
    checkpoint then materializes during the first action, still exactly
    once).  Caveat either way: ``localCheckpoint`` data is
    non-replicated executor-local storage — on a real cluster, losing
    an executor mid-job loses the pinned partitions (only reliable
    checkpoints recompute from lineage).  That is an acceptable trade
    for these bounded eval frames (k × |queries| rows, cheap to re-run
    on failure); for pins feeding multi-hour jobs prefer
    ``persist(StorageLevel.DISK_ONLY_2)`` or a reliable checkpoint
    directory."""
    # PIN the brute-force leg: it is referenced twice below (n_exact
    # and the semi-join), and without a checkpoint each reference
    # re-runs the full BLAS scan — the dominant cost at scale. The
    # pinned frame is k x |queries| rows.
    exact = topk_cosine_bruteforce(
        embeddings, queries, k, id_col, vec_col
    ).select("query_id", "vec_id").localCheckpoint(eager=pin)
    approx = topk_cosine_lsh(
        embeddings, queries, k, bits, id_col, vec_col
    ).select("query_id", "vec_id")
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return n_exact.join(n_hits, "query_id", "left").select(
        "query_id",
        F.col("n_exact").cast("long").alias("n_exact"),
        hits.cast("long").alias("n_hits"),
        F.round(hits / F.col("n_exact"), 6).cast("double").alias("recall"),
    )


def knn_label_vote(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classification by majority vote: exact top-k neighbors per query
    (the brute-force BLAS path), joined back to neighbor labels, majority
    label wins (ties → smallest label — deterministic, oracle-checkable).

    Scale shape: adds one broadcast-sized join (id → label, column-pruned)
    and a tiny groupBy on (query_id, label) over k×|queries| rows on top of
    the top-k search — negligible next to the scan. Output:
    (query_id, predicted_label, votes).
    """
    topk = topk_cosine_bruteforce(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    labels = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label")
    )
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
        .orderBy("query_id")
    )


def quantize_embeddings_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x memory/IO
    reduction for billion-vector ANN: scale = max|x| / 127,
    q_i = round(x_i / scale). Pure higher-order Column expressions
    (transform/aggregate) — JVM-side, whole-stage codegen, no Python in the
    row path; a narrow map that runs at scan speed at any scale.

    Returns (vec_id, scale, qvec array<int>). Dequantize with
    q_i * scale; cosine on dequantized vectors loses <1% recall@10 on
    typical embedding distributions (asserted in tests).
    """
    v = F.col(vec_col)
    absmax = F.aggregate(
        v,
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    # STAGE the max-abs reduction: inlined, the aggregate expression is
    # re-evaluated inside the transform lambda for EVERY element — an
    # O(d^2)-per-row plan (measured 8x slower at sf0.1)
    staged = embeddings.select(
        F.col(id_col).alias("vec_id"),
        v.alias("__v"),
        F.when(absmax == 0, F.lit(1.0)).otherwise(absmax / 127.0)
        .alias("__scale"),
    )
    sc = F.col("__scale")
    return staged.select(
        "vec_id",
        F.round(sc, 9).alias("scale"),
        F.transform(
            F.col("__v"),
            lambda x: F.round(x.cast("double") / sc).cast("int"),
        ).alias("qvec"),
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT k-nearest-neighbor graph over the whole corpus: for every
    vector, its top-``k`` cosine neighbors — the input to graph clustering,
    label propagation, and graph-based dedup. Output:
    (vec_id, neighbor_id, cosine, rank).

    Scale shape: the same blocked self-join as
    :func:`dedup.embedding_cosine_pairs` (every pair of vectors meets in
    exactly one ``applyInPandas`` group, chunk-free BLAS inside), but each
    group emits only its LOCAL directed top-k per source vector — so the
    exchange after the compute carries at most n·B·k candidate edges, not
    the O(n²) similarity matrix. A final per-vector window (WindowGroupLimit
    applies the partial limit before the shuffle) merges the B candidate
    lists into the exact global top-k. Cosines are rounded to 6 decimals
    BEFORE ranking with a neighbor-id tiebreak, so the selected edge set is
    deterministic and bit-reproducible against the SQL oracle (same
    round-then-rank order in both engines). Replication factor is B per
    vector; scale B so a block fits an executor, exactly as documented on
    the cosine-pairs baseline.
    """
    import numpy as np
    import pandas as pd

    from .dedup import block_pair_tagged

    B = n_blocks
    src = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    )
    tagged = block_pair_tagged(src, B)
    out_schema = "vid long, nid long, cosine double"

    def pair_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bp = int(key[0])
        diagonal = (bp // B) == (bp % B)
        a = pdf[pdf["side"] == "a"]
        a_ids = a["vid"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a["v"]), dtype=np.float64)
        if diagonal:
            b_ids, b_mat = a_ids, a_mat
        else:
            b = pdf[pdf["side"] == "b"]
            b_ids = b["vid"].to_numpy(dtype=np.int64)
            b_mat = np.array(list(b["v"]), dtype=np.float64)
        if not len(a_ids) or not len(b_ids):
            return pd.DataFrame({"vid": [], "nid": [], "cosine": []})
        a_n = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_n = np.sqrt((b_mat * b_mat).sum(axis=1))
        sims = np.round((a_mat @ b_mat.T) / np.outer(a_n, b_n), 6)

        frames = []

        def emit(src_ids, dst_ids, s):
            # Local directed top-k by (cosine desc, neighbor id asc) — the
            # same round-then-rank order the global window and the SQL
            # oracle apply, so local pruning never discards a global
            # winner. Fully vectorized: the rounded cosine sits on a 1e-6
            # integer grid, so (cos, -nid) packs EXACTLY into one int64
            # composite key (|cos_int| <= 1e6 ≈ 2^20, shifted by 2^33;
            # requires ids < 2^33) and per-row selection is one
            # argpartition + one k-wide sort instead of a Python loop.
            m, n = s.shape
            cos_int = np.round(s * 1e6).astype(np.int64)
            key = cos_int * (1 << 33) - dst_ids[None, :]
            # self-mask sentinel must survive negation — int64.min wraps to
            # itself under '-', which would make the self pair the BEST
            # candidate of the negated key
            sentinel = -(1 << 62)
            key[src_ids[:, None] == dst_ids[None, :]] = sentinel
            kk = min(k, n)
            part = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
            row_ix = np.arange(m)[:, None]
            order = np.argsort(-key[row_ix, part], axis=1)
            sel = part[row_ix, order]
            keep = key[row_ix, sel] != sentinel
            frames.append(pd.DataFrame({
                "vid": np.repeat(src_ids, kk)[keep.ravel()],
                "nid": dst_ids[sel].ravel()[keep.ravel()],
                "cosine": s[row_ix, sel].ravel()[keep.ravel()],
            }))

        emit(a_ids, b_ids, sims)
        if not diagonal:
            emit(b_ids, a_ids, np.ascontiguousarray(sims.T))
        return pd.concat(frames, ignore_index=True)

    candidates = tagged.groupBy("bp").applyInPandas(pair_topk, out_schema)
    w = Window.partitionBy("vid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("vid").alias(id_col),
            F.col("nid").alias("neighbor_id"),
            "cosine", "rank",
        )
    )


def l2_normalize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Unit-normalize vectors so downstream cosine reduces to a dot
    product — the standard prep before ANN indexing. Returns
    (vec_id, norm, unit_vec) with components rounded to ``round_to``
    decimals (the same determinism convention as the cosine operators:
    both engines round the identical doubles). Zero vectors pass through
    unchanged with norm 0.

    The squared-norm reduction is STAGED in a projection (same lesson as
    the int8 quantizer: inlined into the per-element lambda it would be
    re-evaluated O(d) times per row). Pure narrow map, no shuffle.
    """
    v = F.col(vec_col)
    norm2 = F.aggregate(
        v, F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    staged = embeddings.select(
        F.col(id_col).alias("vec_id"),
        v.alias("__v"),
        F.sqrt(norm2).alias("__norm"),
    )
    nz = F.col("__norm") != 0
    return staged.select(
        "vec_id",
        F.round(F.col("__norm"), round_to).alias("norm"),
        F.transform(
            F.col("__v"),
            lambda x: F.when(
                nz, F.round(x.cast("double") / F.col("__norm"), round_to)
            ).otherwise(F.round(x.cast("double"), round_to)),
        ).alias("unit_vec"),
    )


def random_projection_signs(out_dim: int, in_dim: int,
                            salt: str = "rp") -> list[list[float]]:
    """Deterministic Rademacher (±1) projection matrix derived from
    md5("{salt}:{j}:{i}") parity — no RNG, so any engine (or the DuckDB
    oracle, via its own md5()) regenerates the identical matrix from the
    (salt, shape) alone. Rows are output dims."""
    import hashlib

    def sign(j: int, i: int) -> float:
        h = hashlib.md5(f"{salt}:{j}:{i}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    return [[sign(j, i) for i in range(in_dim)] for j in range(out_dim)]


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 8,
    in_dim: int = 64,
    salt: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction by a Rademacher
    sign matrix: out[j] = Σᵢ sign(j,i)·x[i].

    The sign matrix is model data (like IVF centroids): materialized once
    driver-side from the deterministic hash — out_dim·in_dim literals, a
    few KB — and baked into the projection expressions, so the whole map
    is whole-stage-codegen'd JVM arithmetic with NO shuffle, no Python,
    and no per-row hashing.  Each output component folds the input
    left-to-right (``aggregate`` over an index ``sequence``) — a fixed
    IEEE-754 operation tree both engines evaluate identically; the final
    ``+ 0.0`` collapses a possible −0.0 so the fold matches DuckDB's
    init-free ``list_reduce``. Components round to 6 decimals.

    Returns (vec_id, proj: array<double>).
    """
    signs = random_projection_signs(out_dim, in_dim, salt)
    comps = []
    for j in range(out_dim):
        lits = ", ".join(
            f"{s:.1f}d" for s in signs[j]
        )
        comps.append(
            f"round(aggregate(sequence(1, {in_dim}), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + element_at(array({lits}), i) * "
            f"CAST(element_at({vec_col}, i) AS DOUBLE)) + 0.0d, 6)"
        )
    return embeddings.select(
        F.col(id_col),
        F.expr("array(" + ", ".join(comps) + ")").alias("proj"),
    )


def embedding_corpus_stats(
    embeddings: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-level embedding-space health check: average vector norm,
    the norm of the MEAN vector, and their ratio — the standard
    anisotropy/collapse diagnostic (a centered, isotropic corpus has
    ratio ≈ 0; embeddings collapsing toward a shared direction push it
    toward 1, which silently breaks cosine-based dedup and ANN recall).

    Determinism: per-vector norms and per-dimension sums quantize to
    exact micro-unit integers (the kmeans discipline), so the corpus
    aggregates are partitioning-independent; the final statistics are
    fixed-shape doubles folded in dimension order.  Shape: one narrow
    map + a k·d-style per-dimension sum (map-side combined, ``dim``
    rows) + a two-value global aggregate — nothing driver-side, no
    full-vector shuffle.

    Returns one row: (n_vectors, dim, avg_norm, mean_vector_norm,
    anisotropy_ratio).
    """
    q_scale = 10**6
    staged = embeddings.select(
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {q_scale}.0d) AS BIGINT))"
        ).alias("q"),
        F.expr(
            f"CAST(round(sqrt(aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) "
            f"* {q_scale}.0d) AS BIGINT)"
        ).alias("norm_q"),
    )
    dim_sums = (
        staged.select(F.posexplode("q").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("s"))
    )
    packed = dim_sums.groupBy().agg(
        F.expr("array_sort(collect_list(struct(pos, s)))").alias("ds")
    )
    tot = staged.agg(
        F.count(F.lit(1)).alias("n"), F.sum("norm_q").alias("sn")
    )
    avg_norm = (
        f"(CAST(sn AS DOUBLE) / (CAST(n AS DOUBLE) * {q_scale}.0d))"
    )
    mean_norm = (
        "(sqrt(aggregate(ds, CAST(0.0 AS DOUBLE), (acc, t) -> acc + "
        "(CAST(t.s AS DOUBLE) / CAST(n AS DOUBLE)) "
        "* (CAST(t.s AS DOUBLE) / CAST(n AS DOUBLE)))) "
        f"/ {q_scale}.0d)"
    )
    return packed.crossJoin(tot).select(
        F.col("n").alias("n_vectors"),
        F.lit(dim).cast("long").alias("dim"),
        F.expr(f"round({avg_norm}, 6)").alias("avg_norm"),
        F.expr(f"round({mean_norm}, 6)").alias("mean_vector_norm"),
        F.expr(
            f"round({mean_norm} / nullif({avg_norm}, 0.0d), 6)"
        ).alias("anisotropy_ratio"),
    )


def standardize_embeddings(
    embeddings: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension corpus standardization (z-scoring) — the cheap
    feature-space whitening step before clustering/ANN when dimensions
    have wildly different scales (full ZCA needs an eigendecomposition;
    per-dim standardization is the diagonal approximation production
    pipelines actually run).

    Determinism: components quantize to exact micro-unit BIGINTs (the
    kmeans/corpus-stats discipline), per-dimension Σx and Σx² are exact
    integer sums (one posexplode + map-side-combined aggregation → dim
    rows), and the z-scores are a fixed-shape double expression — the
    1e6 quantization scale cancels in (x−μ)/σ, so no rescaling is
    needed.  The dim-row statistics frame is packed into ONE array row
    and cross-joined back (broadcast NLJ — nothing driver-side), making
    the scoring pass a narrow map.  Zero-variance dimensions z-score to
    NULL rather than dividing by zero.  Returns (vec_id, z_vec).
    """
    q_scale = 10**6
    staged = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {q_scale}.0d) AS BIGINT))"
        ).alias("q"),
    )
    st = (
        staged.select(F.posexplode("q").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.sum("val").alias("s"),
            F.sum(F.col("val") * F.col("val")).alias("s2"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    packed = st.groupBy().agg(
        F.expr("array_sort(collect_list(struct(pos, s, s2, n)))").alias("ds")
    )
    mean_j = (
        "(CAST(element_at(ds, j + 1).s AS DOUBLE) "
        "/ CAST(element_at(ds, j + 1).n AS DOUBLE))"
    )
    var_j = (
        "(CAST(element_at(ds, j + 1).s2 AS DOUBLE) "
        "/ CAST(element_at(ds, j + 1).n AS DOUBLE) "
        f"- {mean_j} * {mean_j})"
    )
    z_j = (
        f"round((CAST(element_at(q, j + 1) AS DOUBLE) - {mean_j}) "
        f"/ nullif(sqrt({var_j}), 0.0d), {round_to})"
    )
    return staged.crossJoin(packed).select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> {z_j})"
        ).alias("z_vec"),
    )


def cosine_similarity_histogram(
    embeddings: DataFrame,
    n_bins: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus similarity-structure probe: the distribution of cosine
    similarity over ADJACENT-id vector pairs, binned over [−1, 1] — the
    quick diagnostic for embedding collapse (mass piling up near 1) or
    healthy spread, without the O(n²) full pairwise distribution.
    Adjacent-id pairing is a deterministic size-n sample with a
    co-partitioned equi-join (id = id+1) — no blocked self-join, no
    replication.

    Cosines are rounded to 6 decimals before binning (the knn_graph
    convention), bin = floor((cos+1)/width) clamped so cos = 1.0 lands
    in the last bin.  Returns (bin, lo, hi, n_pairs) for non-empty bins.
    """
    src = _with_norm(embeddings, id_col, vec_col)
    b = src.select(
        F.col("vid").alias("vid2"),
        F.col("v").alias("v2"),
        F.col("norm2").alias("n2b"),
    )
    dot = (
        "aggregate(zip_with(v, v2, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    cos = f"round({dot} / nullif(sqrt(norm2 * n2b), 0.0d), 6)"
    width = 2.0 / n_bins
    pairs = src.join(b, F.col("vid2") == F.col("vid") + 1).select(
        F.expr(
            f"least(CAST(floor(({cos} + 1.0d) / {width!r}d) AS INT), "
            f"{n_bins - 1})"
        ).alias("bin")
    )
    return (
        pairs.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            F.expr(f"round(-1.0d + bin * {width!r}d, 6)").alias("lo"),
            F.expr(f"round(-1.0d + (bin + 1) * {width!r}d, 6)").alias("hi"),
            "n_pairs",
        )
    )


def pca_power_iteration(
    embeddings: DataFrame,
    dim: int,
    iterations: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float]:
    """Top principal component of an embedding corpus by power
    iteration over the EXACT centered scatter matrix — the model half
    of the "all-but-the-top" treatment (dominant-direction removal,
    Mu & Viswanath 2018) and of PCA whitening.

    Determinism discipline: vectors quantize once to micro-unit
    BIGINTs; ONE narrow explode pass (no self-join) accumulates the
    exact decimal Gram sums Σqᵢqⱼ and means Σqᵢ map-side-combined, so
    the collected model data (d² + d + 1 values — bounded) is
    bit-identical under any partitioning.  The scatter matrix
    C = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ is exact integer arithmetic (Python bigint);
    power iteration then runs driver-side in floats with a FIXED
    operation order (fold-from-first-element matvec, j ascending —
    the ``list_reduce`` order a SQL replay evaluates), a fixed
    iteration count, and a deterministic sign convention (the
    largest-|v|, lowest-index element is made positive).  Positive
    scaling never changes the eigenvector, so C stays unnormalized.

    Scale: the explode pass emits d² narrow struct rows per vector into
    a d²-group hash aggregate — linear in the corpus, one shuffle of
    d² partials per task; the iteration itself touches only the d×d
    model matrix.  Returns the component as a d-element Python list
    (model data for :func:`pca_project_top`).
    """
    if dim < 2 or iterations < 1:
        raise ValueError("need dim >= 2 and iterations >= 1")
    v, _, _ = _pca_model(embeddings, dim, iterations, vec_col)
    return v


def _pca_model(
    embeddings: DataFrame,
    dim: int,
    iterations: int,
    vec_col: str,
) -> tuple[list[float], dict[int, int], int]:
    """Shared model pass for :func:`pca_power_iteration` and
    :func:`abtt_transform`: returns (component, coordinate sums, n).

    Plan shape: the quantized vectors are projected, fanned out to the
    session parallelism (the Gram explode is the dominant per-row cost
    and would otherwise run at the scan's task count) and checkpointed
    ONCE, so the Gram pass, the coordinate sums and the count all read
    the narrow pinned frame instead of re-scanning the source.  The
    Gram explode emits only the UPPER TRIANGLE (j >= i): q_i*q_j is
    symmetric, so the lower half is mirrored driver-side from the same
    exact decimal sums — identical collected values, half the exploded
    rows.  All sums are exact DECIMAL — placement-invariant, so the
    fan-out cannot change a single bit of the model.
    """
    from ._scaleout import fan_out

    q = F.expr(
        f"transform({vec_col}, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0d) AS BIGINT))"
    )
    qf = fan_out(embeddings.select(q.alias("q"))) \
        .localCheckpoint(eager=True)
    # slice is 1-based: 0-based element i sits at position i+1, so the
    # inner lambda sees x_j for j = i..size-1 with jj the 0-based
    # offset (j = i + jj)
    pairs = qf.select(
        F.explode(
            F.expr(
                "flatten(transform(q, (xi, i) -> "
                "transform(slice(q, i + 1, size(q) - i), (xj, jj) -> "
                "struct(i AS i, i + jj AS j, "
                "CAST(xi AS DECIMAL(19,0)) * CAST(xj AS DECIMAL(19,0)) "
                "AS v))))"
            )
        ).alias("p")
    )
    gram = pairs.groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j")) \
        .agg(F.sum("p.v").cast("decimal(38,0)").alias("s"))
    sums = qf.select(
        F.posexplode("q").alias("i", "val")
    ).groupBy("i").agg(F.sum("val").cast("decimal(38,0)").alias("s"))
    n = qf.count()
    if n == 0:
        raise ValueError("pca_power_iteration: empty corpus")
    s_up = {(int(r["i"]), int(r["j"])): int(r["s"])
            for r in gram.collect()}
    s_i = {int(r["i"]): int(r["s"]) for r in sums.collect()}
    qf.unpersist()

    def s_ij(i: int, j: int) -> int:
        # upper-triangle storage, symmetric read-out; .get(.., 0)
        # tolerates vectors shorter than dim (missing coordinates
        # contribute nothing rather than KeyError)
        return s_up.get((i, j) if i <= j else (j, i), 0)

    # exact integer scatter matrix, then one correctly-rounded float
    # conversion per element
    c = [[float(n * s_ij(i, j) - s_i.get(i, 0) * s_i.get(j, 0))
          for j in range(dim)] for i in range(dim)]
    v = [1.0] * dim
    for _ in range(iterations):
        w = []
        for i in range(dim):
            acc = c[i][0] * v[0]  # fold-from-first (list_reduce order)
            for j in range(1, dim):
                acc = acc + c[i][j] * v[j]
            w.append(acc)
        acc = w[0] * w[0]
        for i in range(1, dim):
            acc = acc + w[i] * w[i]
        norm = acc ** 0.5
        if norm == 0.0:
            raise ValueError(
                "pca_power_iteration: zero scatter matrix (all input "
                "vectors identical) — no principal direction exists"
            )
        v = [x / norm for x in w]
    # deterministic sign: largest-|v| element (ties -> lowest index)
    # made positive
    best = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[best] < 0:
        v = [-x for x in v]
    return v, s_i, n


def pca_project_top(
    embeddings: DataFrame,
    dim: int,
    iterations: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Projects every vector onto the corpus' top principal component
    (:func:`pca_power_iteration`): the per-vector score whose
    distribution diagnoses anisotropy, and the quantity subtracted in
    all-but-the-top post-processing.  The learned component bakes into
    ONE codegen fold expression — projection is a pure narrow map, no
    shuffle, stream-safe.  Returns (id, pc1_score) with the score an
    i-ascending fold of vᵢ·qᵢ over micro-unit coordinates, rescaled
    and rounded to 6.
    """
    comp = pca_power_iteration(embeddings, dim, iterations,
                               id_col, vec_col)
    vec_lit = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in comp)
    return embeddings.select(
        F.col(id_col),
        F.expr(
            f"round(aggregate(zip_with(transform({vec_col}, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000.0d) AS BIGINT)), "
            f"array({vec_lit}), (a, b) -> CAST(a AS DOUBLE) * b), "
            "0.0d, (acc, x) -> acc + x) / 1000000.0d + 0.0d, 6)"
        ).alias("pc1_score"),
    )


def abtt_transform(
    embeddings: DataFrame,
    dim: int,
    iterations: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath 2018):
    subtract the corpus mean, then remove the projection onto the top
    principal component — the two-line treatment that measurably
    de-anisotropizes embedding spaces before cosine retrieval.
    x′ = (x − μ) − ((x − μ)·v)·v with μ from the same exact integer
    sums and v from :func:`pca_power_iteration`; both are bounded
    model data baked into codegen expressions, so the transform is a
    pure narrow map (no shuffle, stream-safe).

    The result is emitted as integer MICRO-UNIT CSV
    (``abtt_q_csv``) — the ``quantize_int8`` gate convention, because
    double rendering is engine-specific while integers are not; parse
    back with ``split`` + ``CAST`` downstream.  Returns
    (id, abtt_q_csv).
    """
    # one shared model pass: the component, the exact coordinate sums
    # and the count all come from the same pinned quantized frame (the
    # old code re-scanned the source twice to recompute sums/n the
    # power iteration had already collected)
    comp, s_i, n = _pca_model(embeddings, dim, iterations, vec_col)
    mu = [float(s_i[i]) / n for i in range(dim)]
    mu_lit = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in mu)
    v_lit = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in comp)
    staged = embeddings.select(
        F.col(id_col),
        F.expr(
            f"zip_with(transform({vec_col}, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000.0d) AS BIGINT)), "
            f"array({mu_lit}), (a, m) -> CAST(a AS DOUBLE) - m)"
        ).alias("__c"),
    ).select(
        id_col, "__c",
        F.expr(
            f"aggregate(zip_with(__c, array({v_lit}), (c, v) -> c * v), "
            "0.0d, (acc, x) -> acc + x)"
        ).alias("__p"),
    )
    return staged.select(
        id_col,
        F.expr(
            f"array_join(zip_with(__c, array({v_lit}), (c, v) -> "
            "CAST(CAST(round(c - __p * v) AS BIGINT) AS STRING)), ',')"
        ).alias("abtt_q_csv"),
    )


def centroid_drift(
    old: DataFrame,
    new: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots: per group
    (label, source, shard …) the L2 distance between the old and new
    centroids — the retraining/reindexing trigger signal (an ANN index
    or a dedup threshold calibrated on last month's embedding space
    silently degrades once the encoder or the corpus mix shifts).

    Per-dimension sums quantize to exact micro-unit BIGINTs (the
    kmeans/corpus-stats discipline) so both snapshots' centroids are
    partitioning-independent; each side is one posexplode +
    map-side-combined (group, pos) aggregation — |groups|·dim rows
    through the exchange, never vectors. The distance is a fixed-shape
    double fold in dimension order over the joined per-dim means.
    Returns (group, n_old, n_new, drift_l2) — drift rounded 6, NULL if
    a group is missing from either snapshot (outer join keeps it).
    """
    q_scale = 10**6

    def _dims(df, tag):
        staged = df.select(
            F.col(group_col).alias("grp"),
            F.expr(
                f"transform({vec_col}, x -> "
                f"CAST(round(CAST(x AS DOUBLE) * {q_scale}.0d) AS BIGINT))"
            ).alias("q"),
        )
        return (
            staged.select("grp", F.posexplode("q").alias("pos", "val"))
            .groupBy("grp", "pos")
            .agg(
                F.sum("val").alias(f"s_{tag}"),
                F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            )
        )
    joined = _dims(old, "old").join(_dims(new, "new"), ["grp", "pos"],
                                    "full_outer")
    # per-dim squared mean gap, folded in pos order: mean = (s / n) / 1e6
    return (
        joined.groupBy("grp")
        .agg(
            F.max("n_old").alias("n_old"),
            F.max("n_new").alias("n_new"),
            F.expr(
                "array_sort(collect_list(struct(pos, s_old, n_old, "
                "s_new, n_new)))"
            ).alias("__ds"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_old", "n_new",
            F.round(
                F.expr(
                    "sqrt(aggregate(__ds, CAST(0.0 AS DOUBLE), (acc, t) -> "
                    "acc + ((CAST(t.s_new AS DOUBLE) / CAST(t.n_new AS "
                    "DOUBLE)) / 1000000.0d - (CAST(t.s_old AS DOUBLE) / "
                    "CAST(t.n_old AS DOUBLE)) / 1000000.0d) * "
                    "((CAST(t.s_new AS DOUBLE) / CAST(t.n_new AS DOUBLE)) "
                    "/ 1000000.0d - (CAST(t.s_old AS DOUBLE) / "
                    "CAST(t.n_old AS DOUBLE)) / 1000000.0d)) + 0.0)"
                ),
                6,
            ).alias("drift_l2"),
        )
    )


def snn_graph(
    edges: DataFrame,
    min_shared: int = 2,
    id_col: str = "vec_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Shared-nearest-neighbor graph (Jarvis-Patrick 1973) over a kNN
    edge frame (:func:`knn_graph`'s output or any (node, neighbor)
    list): pair similarity = |N(a) ∩ N(b)|, the number of kNN neighbors
    two nodes share — a density-robust alternative to raw cosine for
    clustering and near-dup grouping (two points in a sparse region can
    be each other's nearest neighbors while sharing nothing; SNN
    catches that).

    Scale shape: ONE equi-join of the edge list with itself ON THE
    NEIGHBOR (never a corpus self-join) — each neighbor n contributes
    deg(n)² candidate pairs and deg(n) = k by construction, so the
    joined volume is exactly n·k² rows regardless of corpus size —
    then one hash aggregation on the (a, b) pair.  The ``mutual`` flag
    (a ∈ N(b) and b ∈ N(a)) comes from the same aggregation by
    counting directed hits of the pair itself in the edge frame via a
    union trick: no extra join.  Returns (a, b, shared, mutual) for
    pairs with ``shared >= min_shared``, a < b.
    """
    # PIN the edge frame: it is referenced three times below (both
    # sides of the neighbor self-join + the directed-hit union), and
    # the typical input is knn_graph's BLAS leg — un-pinned, every
    # reference re-runs it. Lazy checkpoint: materialized once on
    # first use, shared by all three references (n·k rows).
    e = edges.select(
        F.col(id_col).alias("src"), F.col(neighbor_col).alias("nbr")
    ).localCheckpoint(eager=False)
    pairs = (
        e.alias("x").join(e.alias("y"), "nbr")
        .where(F.col("x.src") < F.col("y.src"))
        .select(
            F.col("x.src").alias("a"), F.col("y.src").alias("b"),
            F.lit(1).alias("__sh"), F.lit(0).alias("__mu"),
        )
    )
    # directed edges of the pair itself, keyed the same way: a hit with
    # __mu = 1 per direction present — 2 after the sum means mutual
    directed = e.where(F.col("src") != F.col("nbr")).select(
        F.least(F.col("src"), F.col("nbr")).alias("a"),
        F.greatest(F.col("src"), F.col("nbr")).alias("b"),
        F.lit(0).alias("__sh"),
        F.lit(1).alias("__mu"),
    )
    return (
        pairs.unionByName(directed)
        .groupBy("a", "b")
        .agg(
            F.sum("__sh").cast("long").alias("shared"),
            (F.sum("__mu") >= 2).alias("mutual"),
        )
        .where(F.col("shared") >= min_shared)
    )


def matryoshka_recall(
    embeddings: DataFrame,
    dims: list[int],
    k: int = 10,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pin: bool = True,
) -> DataFrame:
    """Matryoshka truncation quality (Kusupati et al. 2022): how much
    nearest-neighbor structure survives when vectors are cut to their
    first ``d`` coordinates — the measurement behind "store 64 dims,
    search 16" index-shrinking decisions.  For each ``d`` in ``dims``,
    exact top-``k`` over the truncated vectors is compared against the
    full-dimension exact top-``k`` for the first ``n_queries`` query
    vectors; recall@k is the exact integer overlap ratio.

    Each leg is :func:`topk_cosine_bruteforce` (broadcast queries,
    partition-local top-k) over a NARROW slice projection — the
    truncation itself never shuffles.  At billion-vector scale the
    brute-force legs run on the sampled query set, which is exactly
    how recall is measured in practice.  Returns one row per dim:
    (dim, n_pairs, n_hits, recall_at_k).

    ``pin`` follows the :func:`ann_recall_at_k` contract: True (default)
    materializes the truth leg eagerly at call time, False keeps the
    plan lazy (pin lands on first action) — see that docstring for the
    localCheckpoint executor-loss caveat.
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    queries = embeddings.where(F.col(id_col) < n_queries)
    # PIN the full-width truth leg: it is referenced three times PER
    # TESTED DIM below (semi-join + n_pairs agg + cross), and each
    # un-pinned reference re-runs the full-width BLAS scan — at scale
    # that multiplies the most expensive leg by 3x|dims|.
    truth = topk_cosine_bruteforce(
        embeddings, queries, k, id_col, vec_col
    ).select("query_id", "vec_id").localCheckpoint(eager=pin)
    parts = []
    for d in sorted(set(dims)):
        t_emb = embeddings.select(
            F.col(id_col),
            F.expr(f"slice({vec_col}, 1, {d})").alias(vec_col),
        )
        t_q = queries.select(
            F.col(id_col),
            F.expr(f"slice({vec_col}, 1, {d})").alias(vec_col),
        )
        got = topk_cosine_bruteforce(
            t_emb, t_q, k, id_col, vec_col
        ).select("query_id", "vec_id")
        hits = truth.join(got, ["query_id", "vec_id"], "left_semi")
        parts.append(
            truth.agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs")
            ).crossJoin(
                hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            ).select(
                F.lit(d).cast("int").alias("dim"),
                "n_pairs", "n_hits",
                F.expr(
                    "round(CAST(n_hits AS DOUBLE) "
                    "/ nullif(CAST(n_pairs AS DOUBLE), 0.0d), 6)"
                ).alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def negative_samples(
    embeddings: DataFrame,
    knn_edges: DataFrame | None = None,
    k_neg: int = 4,
    n_buckets: int = 64,
    overscan: int = 4,
    salt: str = "neg-v1",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor gets ``k_neg`` pseudo-random corpus items that are neither
    itself nor (optionally) any of its kNN neighbors — the in-batch /
    random-negative mix every embedding trainer consumes, made
    REPRODUCIBLE (no RNG: md5 buckets + md5 ranks, so re-runs, the SQL
    oracle and a later backfill pick the same negatives).

    Scale shape: corpus items land in ``n_buckets`` hash buckets; each
    anchor explodes ``k_neg + overscan`` slots whose md5 picks a
    bucket, ONE equi-join on the bucket key pairs anchors with
    candidates (volume = anchors · slots · corpus/n_buckets — scale
    ``n_buckets`` with the corpus so bucket size stays O(10..100);
    measured at sf0.1: 16 buckets 4.5 s, 128 buckets 0.8 s for the
    same picks-quality), a per-(anchor,
    slot) window keeps the min-hash candidate, the kNN anti-join
    removes accidental hard positives, and a final per-anchor window
    ranks the survivors.  Returns (anchor_id, neg_id, neg_rank ≤
    k_neg).
    """
    if k_neg < 1 or overscan < 0:
        raise ValueError("need k_neg >= 1 and overscan >= 0")
    n_slots = k_neg + overscan
    corpus = embeddings.select(
        F.col(id_col).alias("cand"),
        F.expr(
            f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
            f"':b:{salt}')), 1, 15), 16, 10) AS BIGINT) % {n_buckets}"
        ).alias("bkt"),
    )
    anchors = embeddings.select(F.col(id_col).alias("anchor")).select(
        "anchor",
        F.explode(F.expr(f"sequence(0, {n_slots - 1})")).alias("slot"),
    ).select(
        "anchor", "slot",
        F.expr(
            f"CAST(conv(substring(md5(concat(CAST(anchor AS STRING), "
            f"':', CAST(slot AS STRING), ':{salt}')), 1, 15), 16, 10) "
            f"AS BIGINT) % {n_buckets}"
        ).alias("bkt"),
    )
    paired = (
        anchors.join(corpus, "bkt")
        .where(F.col("cand") != F.col("anchor"))
        .select(
            "anchor", "slot", "cand",
            F.expr(
                f"md5(concat(CAST(anchor AS STRING), ':', "
                f"CAST(slot AS STRING), ':', CAST(cand AS STRING), "
                f"':{salt}'))"
            ).alias("__h"),
        )
    )
    w_slot = Window.partitionBy("anchor", "slot").orderBy(
        F.col("__h").asc(), F.col("cand").asc())
    picked = (
        paired.withColumn("__rn", F.row_number().over(w_slot))
        .where(F.col("__rn") == 1)
        .select("anchor", "slot", "cand")
    )
    if knn_edges is not None:
        edges = knn_edges.select(
            F.col(id_col).alias("anchor"),
            F.col("neighbor_id").alias("cand"),
        )
        picked = picked.join(edges, ["anchor", "cand"], "left_anti")
    # distinct candidates per anchor, then slot-ordered final rank
    w_dedup = Window.partitionBy("anchor", "cand").orderBy(
        F.col("slot").asc())
    w_rank = Window.partitionBy("anchor").orderBy(F.col("slot").asc())
    return (
        picked.withColumn("__d", F.row_number().over(w_dedup))
        .where(F.col("__d") == 1)
        .withColumn("neg_rank", F.row_number().over(w_rank))
        .where(F.col("neg_rank") <= k_neg)
        .select(
            F.col("anchor").alias("anchor_id"),
            F.col("cand").alias("neg_id"),
            "neg_rank",
        )
    )


def ivf_tuning_curve(
    embeddings: DataFrame,
    n_probes: list[int],
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    pin: bool = True,
) -> DataFrame:
    """Recall-vs-cost curve for the IVF index — the planner table read
    before committing an ``n_probe`` at scale (the ANN twin of the
    MinHash-LSH banding curve): for each candidate ``n_probe``, exact
    recall@k of :func:`topk_cosine_ivf` against the brute-force
    baseline on the sampled query set, with the index's NOMINAL scan
    fraction ``n_probe / n_cells`` alongside (the IVF cost contract —
    each probe touches ~1/n_cells of the corpus).

    Every leg is deterministic (decimal-exact centroids, round-6
    cosine ranks), so the whole curve is SQL-replayable.  Returns one
    row per n_probe: (n_probe, n_pairs, n_hits, recall_at_k,
    nominal_scan_fraction).

    ``pin`` follows the :func:`ann_recall_at_k` contract: True (default)
    materializes the truth leg eagerly at call time, False keeps the
    plan lazy (pin lands on first action) — see that docstring for the
    localCheckpoint executor-loss caveat.
    """
    if not n_probes:
        raise ValueError("n_probes must be non-empty")
    queries = embeddings.where(F.col(id_col) < n_queries)
    # PIN the truth leg (3 references per tested n_probe — the
    # matryoshka_recall discipline).
    truth = topk_cosine_bruteforce(
        embeddings, queries, k, id_col, vec_col
    ).select("query_id", "vec_id").localCheckpoint(eager=pin)
    n_cells = embeddings.select(
        F.countDistinct(F.col(cluster_col)).cast("long").alias("nc"))
    # build the index ONCE at the largest probe setting; each tested p
    # is a crank filter over the pinned candidate frame (bounded:
    # |queries| x max_probe cells' members)
    cands = _ivf_candidates(
        embeddings, queries, max(n_probes), id_col, vec_col, cluster_col
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    parts = []
    for p in sorted(set(n_probes)):
        got = (
            cands.where(F.col("crank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id")
        )
        hits = truth.join(got, ["query_id", "vec_id"], "left_semi")
        parts.append(
            truth.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .crossJoin(
                hits.agg(F.count(F.lit(1)).cast("long")
                         .alias("n_hits")))
            .crossJoin(F.broadcast(n_cells))
            .select(
                F.lit(p).cast("int").alias("n_probe"),
                "n_pairs", "n_hits",
                F.expr(
                    "round(CAST(n_hits AS DOUBLE) "
                    "/ nullif(CAST(n_pairs AS DOUBLE), 0.0d), 6)"
                ).alias("recall_at_k"),
                F.expr(
                    f"round(least(1.0d, CAST({p} AS DOUBLE) "
                    "/ CAST(nc AS DOUBLE)), 6)"
                ).alias("nominal_scan_fraction"),
            )
        )
    out = parts[0]
    for pr in parts[1:]:
        out = out.unionByName(pr)
    return out


def rbo_weights(
    k: int, p_num: int = 9, p_den: int = 10, scale: int = 10**9,
) -> list[int]:
    """Integer truncated-RBO weight table: ``w[m-1] = sum_{d=m..k}
    round(p^(d-1)/d * scale)`` with ``p = p_num/p_den``, computed in
    EXACT integer arithmetic (half-away rounding via ``(2a+b)//(2b)``)
    — no ``pow``/libm anywhere, so Spark, DuckDB, and Python replays
    agree bit-for-bit.  Shared by :func:`ranking_rbo` and its oracle."""
    if k < 1 or not 0 < p_num < p_den:
        raise ValueError("need k >= 1 and 0 < p_num < p_den")
    ws = []
    for m in range(1, k + 1):
        s = 0
        for d in range(m, k + 1):
            num = p_num ** (d - 1) * scale
            den = p_den ** (d - 1) * d
            s += (2 * num + den) // (2 * den)
        ws.append(s)
    return ws


def ranking_rbo(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    p_num: int = 9,
    p_den: int = 10,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    top-k rankings per query — the top-weighted similarity measure for
    comparing an ANN index's result lists against exact search (or any
    two rankers): unlike recall@k it rewards agreement MORE at the top
    of the list, with persistence ``p = p_num/p_den``.

    Truncated form: ``rbo = (1-p) * sum_{d=1..k} p^(d-1) * |A_d ∩
    B_d| / d``.  An item ranked ``ra`` in A and ``rb`` in B is inside
    both depth-``d`` prefixes for every ``d >= max(ra, rb)``, so its
    total contribution depends only on ``max(ra, rb)`` — precomputed
    by :func:`rbo_weights` as EXACT nano-scaled integers (p kept
    rational; no float pow), applied as a k-branch CASE.

    Plan shape: the rank frames are queries×k model data (producing
    them is the ANN operator's job); ONE keyed equi-join on (query,
    item) plus a per-query aggregate — broadcast-able at any corpus
    scale.  Queries appearing in either frame with zero overlap still
    report (rbo = 0).  Returns (query_id, n_common, rbo_nano, rbo)
    ordered by query id.
    """
    ws = rbo_weights(k, p_num, p_den)
    case = "CASE greatest(__ra, __rb) " + " ".join(
        f"WHEN {m + 1} THEN CAST({w} AS BIGINT)" for m, w in enumerate(ws)
    ) + " END"
    ar = a.where(f"{rank_col} <= {k}").select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__i"),
        F.col(rank_col).alias("__ra"),
    )
    br = b.where(f"{rank_col} <= {k}").select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__i"),
        F.col(rank_col).alias("__rb"),
    )
    # PIN both rank frames: each is referenced twice (the overlap join
    # + the query spine), and the typical inputs are brute-force ANN
    # legs — queries x k rows, one lazy materialization each
    ar = ar.localCheckpoint(eager=False)
    br = br.localCheckpoint(eager=False)
    overlap = (
        ar.join(br, ["__q", "__i"])
        .select("__q", F.expr(case).alias("__w"))
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("__w").cast("long").alias("rbo_nano"),
        )
    )
    qs = ar.select("__q").union(br.select("__q")).distinct()
    return (
        qs.join(overlap, "__q", "left")
        .select(
            F.col("__q").alias(query_col),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
            .alias("n_common"),
            F.coalesce(F.col("rbo_nano"), F.lit(0)).cast("long")
            .alias("rbo_nano"),
            F.expr(
                f"CAST(coalesce(rbo_nano, 0) AS DOUBLE) / 1000000000.0 "
                f"* (CAST({p_den - p_num} AS DOUBLE) "
                f"/ CAST({p_den} AS DOUBLE))"
            ).alias("rbo"),
        )
        .orderBy(query_col)
    )


def hard_negative_mining(
    embeddings: DataFrame,
    k_scan: int = 10,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard negatives for contrastive training: each anchor's most
    SIMILAR vectors that carry a DIFFERENT label — the pairs that
    actually move a metric-learning loss (random negatives are too
    easy; these sit right at the decision boundary).

    Composition, not new machinery: the exact kNN graph scans the
    top-``k_scan`` neighborhood (broadcast queries, partition-local
    top-k), one keyed join attaches labels, the wrong-label filter
    keeps the hard candidates, and a per-anchor re-rank window cuts to
    ``k_neg``.  Exactness caveat (documented, inherent to every
    scan-then-filter miner): an anchor whose entire ``k_scan``
    neighborhood shares its label yields fewer than ``k_neg`` rows —
    widen ``k_scan`` rather than falling back to a corpus scan.

    Returns (anchor_id, anchor_label, neg_id, neg_label, cosine,
    neg_rank), ordered by (anchor_id, neg_rank).
    """
    from pyspark.sql import Window

    if k_neg < 1 or k_scan < k_neg:
        raise ValueError("need 1 <= k_neg <= k_scan")
    knn = knn_graph(embeddings, k=k_scan, id_col=id_col,
                    vec_col=vec_col)
    labels = embeddings.select(
        F.col(id_col).alias("__lid"),
        F.col(label_col).alias("__lbl"),
    )
    cand = (
        knn.join(labels.withColumnsRenamed(
            {"__lid": id_col, "__lbl": "anchor_label"}), id_col)
        .join(labels.withColumnsRenamed(
            {"__lid": "neighbor_id", "__lbl": "neg_label"}),
            "neighbor_id")
        .where(F.col("anchor_label") != F.col("neg_label"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k_neg)
        .select(
            F.col(id_col).alias("anchor_id"), "anchor_label",
            F.col("neighbor_id").alias("neg_id"), "neg_label",
            "cosine", "neg_rank",
        )
        .orderBy("anchor_id", "neg_rank")
    )


def triplet_mining(
    embeddings: DataFrame,
    k_scan: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor, hard positive, hard negative) triplets for triplet-loss
    training: per anchor, the LEAST similar same-label neighbor in the
    scanned neighborhood (the hard positive — easy positives teach
    nothing) and the MOST similar different-label neighbor (the hard
    negative), plus the margin between them (negative margin = an
    active triplet the loss will actually pull on).

    One exact kNN scan (top-``k_scan``), one keyed label join, and two
    rank windows over the same per-anchor partitioning — no second
    corpus pass.  Anchors whose neighborhood lacks either side are
    dropped (widen ``k_scan`` to recover them).  Returns (anchor_id,
    anchor_label, pos_id, pos_cosine, neg_id, neg_cosine,
    margin_micro, margin), ordered by anchor id.
    """
    from pyspark.sql import Window

    if k_scan < 2:
        raise ValueError("k_scan must be >= 2")
    knn = knn_graph(embeddings, k=k_scan, id_col=id_col, vec_col=vec_col)
    labels = embeddings.select(
        F.col(id_col).alias("__lid"), F.col(label_col).alias("__lbl"))
    cand = (
        knn.join(labels.withColumnsRenamed(
            {"__lid": id_col, "__lbl": "anchor_label"}), id_col)
        .join(labels.withColumnsRenamed(
            {"__lid": "neighbor_id", "__lbl": "nb_label"}), "neighbor_id")
        # PIN: referenced by BOTH the positive and negative branches —
        # un-pinned, each branch re-ran the kNN BLAS leg (n x k rows)
        .localCheckpoint(eager=False)
    )
    w_pos = Window.partitionBy(id_col).orderBy(
        F.col("cosine").asc(), F.col("neighbor_id").asc())
    w_neg = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    pos = (
        cand.where(F.col("nb_label") == F.col("anchor_label"))
        .withColumn("__r", F.row_number().over(w_pos))
        .where("__r = 1")
        .select(F.col(id_col).alias("anchor_id"), "anchor_label",
                F.col("neighbor_id").alias("pos_id"),
                F.col("cosine").alias("pos_cosine"))
    )
    neg = (
        cand.where(F.col("nb_label") != F.col("anchor_label"))
        .withColumn("__r", F.row_number().over(w_neg))
        .where("__r = 1")
        .select(F.col(id_col).alias("anchor_id"),
                F.col("neighbor_id").alias("neg_id"),
                F.col("cosine").alias("neg_cosine"))
    )
    return (
        pos.join(neg, "anchor_id")
        .withColumn(
            "margin_micro",
            F.expr("CAST(round((pos_cosine - neg_cosine) * 1000000.0) "
                   "AS BIGINT)"),
        )
        .withColumn("margin", F.col("margin_micro").cast("double") / 1e6)
        .orderBy("anchor_id")
    )


def truncation_energy_report(
    embeddings: DataFrame,
    dim: int = 16,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector energy retained by prefix truncation: ``|v[:d]| /
    |v|`` — exactly the cosine between the full vector and its
    zero-padded truncation, i.e. how much of THIS item survives a
    matryoshka cut (the per-item view behind
    :func:`matryoshka_recall`'s aggregate).  The bottom of the list is
    the re-embed / keep-full-precision candidate set.

    Pure narrow map (two fixed-order ascending folds + one sqrt per
    row, no shuffle before the top-k), bottom-``k`` by retained energy
    (ties by id).  Returns (vec_id, norm_full, norm_prefix, retained),
    retained micro-rounded, ordered ascending.
    """
    if dim < 1 or k < 1:
        raise ValueError("dim and k must be >= 1")
    fold = (
        "sqrt(aggregate({arr}, 0.0d, (acc, x) -> acc "
        "+ CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) + 0.0)"
    )
    full = fold.format(arr=vec_col)
    pre = fold.format(arr=f"slice({vec_col}, 1, {dim})")
    return (
        embeddings.where(f"{vec_col} IS NOT NULL")
        .select(
            F.col(id_col),
            F.expr(f"round({full}, 6)").alias("norm_full"),
            F.expr(f"round({pre}, 6)").alias("norm_prefix"),
            F.expr(
                f"CAST(round(({pre}) / nullif({full}, 0.0d) "
                "* 1000000.0) AS BIGINT) / 1e6"
            ).cast("double").alias("retained"),
        )
        .orderBy(F.col("retained").asc(), F.col(id_col).asc())
        .limit(k)
    )


def margin_scored_pairs(
    embeddings: DataFrame,
    k: int = 8,
    top: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ratio-margin pair mining (Artetxe & Schwenk 2019): score each
    MUTUAL nearest-neighbor pair by its cosine relative to both
    endpoints' neighborhood averages —

        margin(a, b) = cos(a, b) / ((avgk(a) + avgk(b)) / 2)

    — the criterion behind large-scale bitext/parallel-pair mining:
    absolute cosine over-selects hubby regions; the margin keeps pairs
    that stand OUT of their own neighborhoods.

    One exact kNN scan; per-node neighborhood averages are integer-
    micro means over the kNN frame (model data); mutuality is one
    self-join of the edge list on the reversed key; the margin is a
    fixed-order double micro-quantized.  Returns the ``top`` pairs
    (id_a < id_b): (id_a, id_b, cosine, avg_a, avg_b, margin),
    ordered by (margin desc, ids).
    """
    if k < 1 or top < 1:
        raise ValueError("k and top must be >= 1")
    knn = knn_graph(embeddings, k=k, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col).alias("a"),
                F.col("neighbor_id").alias("b"), "cosine") \
        .localCheckpoint(eager=True)
    avg = knn.groupBy("a").agg(
        F.expr(
            "CAST(round(avg(CAST(round(cosine * 1000000.0) AS BIGINT)))"
            " AS BIGINT)"
        ).alias("__avg_micro")
    )
    mutual = (
        knn.alias("x")
        .join(
            knn.select(F.col("a").alias("b2"), F.col("b").alias("a2"))
            .alias("y"),
            (F.col("x.a") == F.col("y.a2"))
            & (F.col("x.b") == F.col("y.b2")),
            "left_semi",
        )
        .where(F.col("a") < F.col("b"))
    )
    scored = (
        mutual
        .join(avg.withColumnsRenamed({"a": "a", "__avg_micro": "__ma"}),
              "a")
        .join(avg.withColumnsRenamed({"a": "b", "__avg_micro": "__mb"}),
              "b")
        .withColumn(
            "margin_micro",
            F.expr(
                "CAST(round(cosine / nullif((CAST(__ma AS DOUBLE) "
                "/ 1000000.0 + CAST(__mb AS DOUBLE) / 1000000.0) "
                "/ 2.0, 0.0) * 1000000.0) AS BIGINT)"
            ),
        )
    )
    return (
        scored.orderBy(F.col("margin_micro").desc(),
                       F.col("a").asc(), F.col("b").asc())
        .limit(top)
        .select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b"),
            "cosine",
            (F.col("__ma").cast("double") / 1e6).alias("avg_a"),
            (F.col("__mb").cast("double") / 1e6).alias("avg_b"),
            (F.col("margin_micro").cast("double") / 1e6).alias("margin"),
        )
    )


def two_stage_topk(
    embeddings: DataFrame,
    k: int = 10,
    prefix_dim: int = 16,
    shortlist: int = 50,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage matryoshka retrieval — the production ANN serving
    shape that :func:`matryoshka_recall` measures: stage 1 shortlists
    ``shortlist`` candidates per query with the CHEAP truncated-prefix
    cosine (``prefix_dim`` of the full dims — 4× less compute and
    memory bandwidth at 16/64), stage 2 reranks only the shortlist
    with the full-dimension cosine and keeps the top ``k``.

    Stage 1 is :func:`topk_cosine_bruteforce` over a narrow slice
    projection (broadcast queries, partition-local top-k — the
    corpus-scan stage an IVF index would replace at scale); stage 2 is
    a candidates-only join (n_queries × shortlist rows — tiny) scored
    with a JVM ``aggregate(zip_with(...))`` dot product, no Python.
    Returns (query_id, vec_id, cosine, rank) — full-precision cosine,
    rank ≤ k, ties (cosine desc, vec_id asc).
    """
    from pyspark.sql import Window

    if shortlist < k:
        raise ValueError("shortlist must be >= k")
    queries = embeddings.where(F.col(id_col) < n_queries)
    t_emb = embeddings.select(
        F.col(id_col),
        F.expr(f"slice({vec_col}, 1, {prefix_dim})").alias(vec_col),
    )
    t_q = queries.select(
        F.col(id_col),
        F.expr(f"slice({vec_col}, 1, {prefix_dim})").alias(vec_col),
    )
    cands = topk_cosine_bruteforce(
        t_emb, t_q, shortlist, id_col, vec_col
    ).select("query_id", "vec_id")
    dv = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    full = embeddings.select(
        F.col(id_col).alias("__id"),
        F.expr(dv).alias("__v"),
        F.expr(
            f"aggregate(zip_with({dv}, {dv}, (x, y) -> x * y), "
            "0.0d, (acc, v) -> acc + v)"
        ).alias("__n2"),
    )
    scored = (
        cands
        .join(full.select(F.col("__id").alias("query_id"),
                          F.col("__v").alias("__qv"),
                          F.col("__n2").alias("__qn")), "query_id")
        .join(full.select(F.col("__id").alias("vec_id"),
                          F.col("__v").alias("__cv"),
                          F.col("__n2").alias("__cn")), "vec_id")
        .select(
            "query_id", "vec_id",
            # + 0.0 maps a -0.0 fold result onto +0.0 (the documented
            # Spark-fold vs DuckDB-list_dot_product -0.0 divergence)
            F.expr(
                "round((aggregate(zip_with(__qv, __cv, "
                "(x, y) -> x * y), 0.0d, (acc, v) -> acc + v) + 0.0d) "
                "/ sqrt(__qn * __cn), 6)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def intrinsic_dimension_two_nn(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017) — how
    many effective degrees of freedom the embedding cloud actually
    uses, from ONLY each point's two nearest neighbors::

        μ_i = d₂(i)/d₁(i),    d̂ = n_used / Σ ln μ_i

    The manifold-collapse diagnostic that explains poor ANN recall and
    guides matryoshka truncation depth (an ID of 9 says slicing 64 →
    16 dims is nearly free; an ID of 40 says it is not).  Distances
    are cosine dissimilarities ``1 − cos`` from the exact
    :func:`knn_graph` top-2 scan (blocked self-join — the corpus never
    meets itself in one task); exact-duplicate points (d₁ = 0 at the
    graph's 1e-6 rounding) are excluded as the estimator requires.
    Per-point ``ln μ`` quantizes to nano and exact-sums, so the MLE is
    partition-order free.  Returns one row: (n_points, n_used,
    id_mle).
    """
    edges = knn_graph(embeddings, k=2, id_col=id_col, vec_col=vec_col)
    pair = (
        edges.groupBy(F.col(id_col))
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("cosine")))
            .alias("c1"),
            F.max(F.when(F.col("rank") == 2, F.col("cosine")))
            .alias("c2"),
        )
        .select(
            F.expr("(1.0d - c1)").alias("d1"),
            F.expr("(1.0d - c2)").alias("d2"),
        )
    )
    m = pair.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(F.expr(
            "CASE WHEN d1 > 0.0d AND d2 >= d1 THEN 1 ELSE 0 END"
        )).cast("long").alias("n_used"),
        F.sum(F.expr(
            "CASE WHEN d1 > 0.0d AND d2 >= d1 "
            "THEN CAST(round(ln(d2 / d1) * 1000000000.0d) AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )).cast("long").alias("lg_n"),
    )
    return m.select(
        "n_points", "n_used",
        F.expr(
            "CAST(round(CAST(n_used AS DOUBLE) "
            "/ nullif(CAST(lg_n AS DOUBLE) / 1e9, 0.0d) "
            "* 1000000.0d) AS BIGINT) / 1e6"
        ).cast("double").alias("id_mle"),
    )


def ann_ranking_eval(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pin: bool = True,
) -> DataFrame:
    """Graded ranking quality of the sign-LSH index against the exact
    brute-force ranking: NDCG@k, MRR, and precision@k per query — the
    standard retrieval-eval triple (recall@k alone treats rank 1 and
    rank k the same; NDCG is what catches an index that finds the
    right neighbors in the wrong order).  Completes the calibration
    kit next to :func:`ann_recall_at_k` and :func:`ivf_tuning_curve`.

    Relevance is graded from the exact ranking (rel = k+1-rank, so the
    true nearest neighbor carries gain k), and every DCG discount
    1/log2(pos+1) enters as a PRE-QUANTIZED nano-scaled integer
    literal baked into the plan — the per-query DCG is then an exact
    BIGINT sum (order-free, overflow-safe: k * k * 1e9 << 2^63), so
    the metric is bit-reproducible on any engine and value-checkable
    against a SQL oracle; no float summation order leaks in.  The
    ideal DCG is PER QUERY, from the exact leg's actual depth
    (n_exact = min(k, corpus−1)): IDCG(n) is the n-th prefix sum of
    the same nano lattice, so a query whose corpus holds fewer than
    k+1 vectors can still reach ndcg = 1.0 for a perfect index —
    standard per-query-ideal NDCG, not a fixed-denominator variant.

    Scale shape: the exact leg is the broadcast-query BLAS matmul of
    :func:`topk_cosine_bruteforce` (partition-local top-k, shuffle
    bounded at k x partitions x |queries|); the approx leg is the
    bucket join of :func:`topk_cosine_lsh`; the eval itself is one
    k*|queries|-row join + groupBy — negligible.  At billion-vector
    scale run on a sampled query set, exactly as recall is measured.
    Output: (query_id, n_hits, ndcg, mrr, precision_at_k).

    ``pin`` follows the :func:`ann_recall_at_k` contract: True (default)
    materializes the exact leg eagerly at call time, False keeps the
    plan lazy (pin lands on first action) — see that docstring for the
    localCheckpoint executor-loss caveat.
    """
    import math

    if k < 1:
        raise ValueError("k must be >= 1")
    # PIN the brute-force leg (referenced by the relevance join AND
    # the query spine — the ann_recall_at_k discipline): k x |queries|
    # rows, one BLAS scan instead of two.
    exact = topk_cosine_bruteforce(
        embeddings, queries, k, id_col, vec_col
    ).select(
        "query_id", "vec_id",
        (F.lit(k + 1) - F.col("rank")).cast("long").alias("rel"),
    ).localCheckpoint(eager=pin)
    approx = topk_cosine_lsh(
        embeddings, queries, k, bits, id_col, vec_col
    ).select("query_id", "vec_id", F.col("rank").cast("long").alias("pos"))
    # nano-quantized DCG discounts, one literal per position: the ONLY
    # irrational in the metric is frozen here, identically for any
    # engine that replays these literals
    disc_nano = [int(round(1e9 / math.log2(i + 1))) for i in range(1, k + 1)]
    idcg_prefix: list[int] = []
    acc = 0
    for i in range(1, k + 1):
        acc += (k + 1 - i) * disc_nano[i - 1]
        idcg_prefix.append(acc)
    disc_arr = "array(" + ", ".join(f"{d}L" for d in disc_nano) + ")"
    idcg_arr = "array(" + ", ".join(f"{v}L" for v in idcg_prefix) + ")"
    j = approx.join(exact, ["query_id", "vec_id"], "left").select(
        "query_id", "pos", F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    per_q = j.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long").alias("n_hits"),
        F.sum(F.expr(f"rel * element_at({disc_arr}, CAST(pos AS INT))"))
        .cast("long").alias("dcg_nano"),
        F.min(F.when(F.col("rel") > 0, F.col("pos"))).alias("first_hit"),
    )
    spine = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("__n_exact")
    )
    return spine.join(per_q, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("dcg_nano"), F.lit(0)).cast("double")
            / F.expr(
                f"CAST(element_at({idcg_arr}, __n_exact) AS DOUBLE)"
            ), 6,
        ).cast("double").alias("ndcg"),
        F.when(
            F.col("first_hit").isNull(), F.lit(0.0)
        ).otherwise(
            F.round(F.lit(1.0) / F.col("first_hit").cast("double"), 6)
        ).cast("double").alias("mrr"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(k)), 6,
        ).cast("double").alias("precision_at_k"),
    )


def kcenter_diversity_sample(
    embeddings: DataFrame,
    n_sample: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 64,
) -> DataFrame:
    """Diversity-maximizing selection by greedy k-center (farthest-point
    traversal, the classic 2-approximation to the k-center objective —
    Gonzalez 1985): starting from the lowest-id vector, repeatedly pick
    the point FARTHEST (cosine dissimilarity) from everything selected
    so far.  The curation primitive dedup can't provide: dedup removes
    redundancy pairwise, k-center picks the subset that COVERS the
    embedding space — seed sets, eval panels, annotation batches,
    cluster-free coreset skeletons.

    Incremental distance maintenance keeps this one-scan-per-round over
    a PINNED frame, never the parquet: round r updates
    ``mind ← least(mind, d(x, c_r))`` against only the newest center
    (broadcast as a plan literal — k × dim doubles), localCheckpoints
    the (id, v, norm2, mind) frame, and takes the argmax via
    TakeOrderedAndProject.  The corpus is scanned ONCE, at round 1; the
    driver transfer is one row per round.  Distances are
    ``1 − round₆(cos)`` (the :func:`knn_graph` lattice) and ties break
    on ascending id, so the whole traversal is deterministic and
    SQL-replayable by chained materialized CTEs.  At billion-vector
    scale run on a pre-sampled pool (standard coreset practice) —
    ``max_sample`` bounds the rounds loudly.  Returns one row per
    selected center: (vec_id, sel_rank, min_dist) — ``min_dist`` is the
    coverage radius at selection time (NULL for the seed), a built-in
    diminishing-returns curve for choosing the sample size.
    """
    if not 1 <= n_sample <= max_sample:
        raise ValueError(
            f"n_sample must be in [1, {max_sample}] — each round is one "
            "pass + a pinned frame; raise max_sample deliberately."
        )
    base = _with_norm(embeddings, id_col, vec_col)
    seed = base.orderBy(F.col("vid").asc()).limit(1).collect()
    if not seed:
        raise ValueError("kcenter_diversity_sample: empty input")
    picked = [(seed[0]["vid"], [float(x) for x in seed[0]["v"]],
               float(seed[0]["norm2"]), None)]
    frame = base
    for r in range(1, n_sample):
        _, cv, cn, _m = picked[-1]
        cv_lit = "array(" + ", ".join(f"{x!r}d" for x in cv) + ")"
        d_expr = (
            "(1.0d - round(aggregate(zip_with(v, " + cv_lit + ", "
            "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
            f"(acc, z) -> acc + z) / sqrt(norm2 * {cn!r}d), 6))"
        )
        mind = d_expr if r == 1 else f"least(mind, {d_expr})"
        frame = frame.select(
            "vid", "v", "norm2", F.expr(mind).alias("mind")
        ).localCheckpoint(eager=False)
        pick = frame.orderBy(
            F.col("mind").desc(), F.col("vid").asc()
        ).limit(1).collect()[0]
        if float(pick["mind"]) <= 0.0:
            raise ValueError(
                "kcenter_diversity_sample: coverage radius hit 0 — "
                f"fewer than {n_sample} distinct vectors; lower n_sample."
            )
        picked.append((pick["vid"], [float(x) for x in pick["v"]],
                       float(pick["norm2"]), float(pick["mind"])))
    out = local_frame(
        embeddings.sparkSession,
        [(int(p[0]), i + 1, p[3]) for i, p in enumerate(picked)],
        f"{id_col} long, sel_rank long, min_dist double",
    )
    return out.select(
        id_col, "sel_rank", F.col("min_dist").cast("double")
    ).orderBy("sel_rank")


def embedding_decontamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC twin of the
    8-gram ``text.contamination_check``: corpus items whose embedding
    is cosine-close to ANY eval-set embedding are flagged as probable
    benchmark leakage.  Paraphrased leakage evades exact n-gram
    checks by construction (reworded questions share no 8-gram); in
    embedding space the paraphrase and its source are near-neighbors,
    so the two checks together cover both the verbatim and the
    reworded channel.

    Scale shape (the :func:`topk_cosine_bruteforce` broadcast
    pattern): the eval matrix — benchmarks are thousands of rows, not
    corpora — is broadcast once; every corpus partition computes one
    partition-rows × eval BLAS block, keeps each row's MAX cosine and
    arg-max eval id, and emits ONLY rows at/above the threshold.  One
    corpus scan, no shuffle (the output is the tiny flagged set) —
    at 10¹⁰ docs this is embarrassingly parallel.  For eval sets too
    large to broadcast, pre-bucket both sides with the existing LSH
    machinery (:func:`topk_cosine_lsh`) and run this per bucket.
    Zero-norm vectors on either side are excluded (cosine undefined).
    Cosines are rounded to 6 decimals (house determinism contract).
    Returns (vec_id, eval_id, cosine) ordered by vec_id — eval_id is
    the smallest id among tied-max eval neighbors.
    """
    return _decontamination_scores(
        corpus, eval_set, threshold, id_col, vec_col
    ).orderBy("vec_id")


def _decontamination_scores(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Unordered decontamination core shared by the batch operator and
    the streaming twin (``streaming.windows.decontamination_stream``):
    broadcast eval matrix, per-partition BLAS block, max-cosine +
    smallest tied eval id, thresholded emit. A pure narrow map — no
    shuffle, no state — so the identical plan scores a readStream
    frame (sorting is the only batch-side extra, unsupported in
    append-mode streams)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    e_rows = _with_norm(eval_set, id_col, vec_col).where(
        "norm2 > 0").collect()
    if not e_rows:
        raise ValueError("embedding_decontamination: empty eval set")
    e_ids = np.array([r["vid"] for r in e_rows], dtype=np.int64)
    e_mat = np.array([r["v"] for r in e_rows], dtype=np.float64)
    e_norms = np.sqrt((e_mat * e_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((e_ids, e_mat, e_norms))
    thr = float(threshold)

    src = _with_norm(corpus, id_col, vec_col).where("norm2 > 0").select(
        "vid", "v")

    def part(batches):
        ids_e, mat_e, norms_e = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vid"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["v"]), dtype=np.float64)
            c_norms = np.sqrt((c_mat * c_mat).sum(axis=1))
            # eval × partition-rows similarity block (house pattern)
            sims = np.round(
                (mat_e @ c_mat.T) / np.outer(norms_e, c_norms), 6)
            best = sims.max(axis=0)
            keep = np.nonzero(best >= thr)[0]
            if len(keep) == 0:
                continue
            # arg-max with smallest-eval-id tie-break, column by column
            arg = np.empty(len(keep), dtype=np.int64)
            for j, ci in enumerate(keep):
                col = sims[:, ci]
                tied = np.nonzero(col == best[ci])[0]
                arg[j] = ids_e[tied].min()
            yield pd.DataFrame({
                "vec_id": c_ids[keep],
                "eval_id": arg,
                "cosine": best[keep],
            })

    return src.mapInPandas(
        part, schema="vec_id long, eval_id long, cosine double"
    )


def embedding_decontamination_lsh(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.9,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hyperplanes: list[list[float]] | None = None,
    families: int = 1,
    in_dim: int | None = None,
    salt: str = "decon-lsh",
) -> DataFrame:
    """Sign-LSH-bucketed :func:`embedding_decontamination` — the scale
    path for eval sets too large to broadcast: both sides bucket by
    the shared sign hash (:func:`topk_cosine_lsh`'s construction), the
    join runs bucket-co-located (2^bits-way shrinkage, one shuffle on
    the bucket key), and each corpus vector keeps its max-cosine eval
    neighbor at/above the threshold.

    APPROXIMATE by design: a contaminated pair is only seen if it
    shares a bucket — per-bit collision probability for angle θ is
    1−θ/π, so single-family recall falls as bits grow (the
    :func:`lsh_tuning_curve` trade).

    PARALLELISM CEILING: the shuffle join has exactly
    ``families × 2^bits`` distinct keys, which caps join parallelism
    AND makes each bucket's candidate set ~n²/(2^bits) per family —
    ``bits=4`` is 16 tasks, a straggler factory on a skewed embedding
    distribution at design scale.  Size ``bits ≈ log2(4 × cluster
    cores)`` so every core gets ~4 buckets, then recover the recall
    the extra bits cost with ``families``: R independent salted
    Rademacher hyperplane families (the standard multi-probe LSH
    construction, same deterministic md5 lattice as
    :func:`random_projection_signs`) are UNIONED — a pair is a
    candidate if it collides in ANY family, so miss probability
    multiplies across families, (1 − p^bits)^R, while distinct join
    keys (and tasks) grow R×.  Recall and parallelism stop fighting
    over the one ``bits`` knob.

    Family 0 is always the base bucketing (``hyperplanes`` if given,
    else sign-of-first-``bits``-coordinates), so ``families=R`` is a
    strict candidate superset of ``families=1`` — recall is monotone
    in R.  Families ≥ 1 need ``in_dim`` (the embedding width) unless
    ``hyperplanes`` supplies it.  A pair colliding in several
    families is scored once per collision and deduped by the final
    max-cosine window (≤ R× bounded rescoring, no correctness
    effect).  The exact broadcast twin remains the right call when
    the eval set fits driver memory.  Zero-norm vectors excluded;
    cosine rounded to 6 (house contract).
    Returns (vec_id, eval_id, cosine) ordered by vec_id.
    """
    if families < 1:
        raise ValueError("families must be >= 1")
    if families > 1 and in_dim is None:
        if hyperplanes is not None:
            in_dim = len(hyperplanes[0])
        else:
            raise ValueError(
                "families > 1 needs in_dim (the embedding width) to "
                "derive the salted hyperplane families")
    bucket_sqls = [_sign_bucket_sql(bits, hyperplanes)]
    for fam in range(1, families):
        bucket_sqls.append(_sign_bucket_sql(bits, random_projection_signs(
            bits, in_dim, f"{salt}:{fam}")))

    def bucketed(df: DataFrame) -> DataFrame:
        base = _with_norm(df, id_col, vec_col).where("norm2 > 0")
        if len(bucket_sqls) == 1:
            return base.withColumn("bucket", F.expr(bucket_sqls[0]))
        # family f's keys live in their own slice of the key space so
        # one explode + one equi-join covers the union of R families
        keys = ", ".join(f"(({sql}) + {fam * (1 << bits)})"
                         for fam, sql in enumerate(bucket_sqls))
        return base.withColumn(
            "bucket", F.explode(F.expr(f"array({keys})")))

    c = bucketed(corpus).alias("c")
    e = bucketed(eval_set).alias("e")
    scored = c.join(e, F.col("c.bucket") == F.col("e.bucket")).select(
        F.col("c.vid").alias("vec_id"),
        F.col("e.vid").alias("eval_id"),
        F.round(
            F.expr(
                "aggregate(zip_with(c.v, e.v, (x, y) -> "
                "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
            ) / F.sqrt(F.col("c.norm2") * F.col("e.norm2")), 6
        ).alias("cosine"),
    ).where(F.col("cosine") >= float(threshold))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("eval_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn = 1").drop("rn").orderBy("vec_id")
    )
