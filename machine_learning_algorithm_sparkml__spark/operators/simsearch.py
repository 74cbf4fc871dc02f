"""Similarity search over embedding columns (SURVEY.md §7.4).

One implementation per family, every one replayable value-exactly by
an external engine (the DuckDB oracles in ``workload/llm.py``):

- ``brute_force_topk`` — exact: broadcast the (small) query set,
  one streaming pass over the corpus computing cosine JVM-side
  (``F.zip_with``/``F.aggregate``), then top-k per query through the
  rank-then-filter window shape so the exchange carries only each map
  task's local top-k (InferWindowGroupLimit). At 100 TB this is ONE
  corpus scan with no corpus shuffle — the optimal exact plan.

- the approximate families — ``portable_lsh_topk`` (multi-table
  sign-random-projection buckets + Hamming-1 probes),
  ``portable_ivf_topk`` (inverted file over sampled centroids),
  ``portable_pq_topk`` (product-quantized ADC shortlist),
  ``portable_ivfpq_topk`` (IVF cells + PQ codes) and
  ``portable_near_dup_pairs`` (bucketed pair search). Every stage
  that picks candidates runs in exact integer arithmetic: md5-derived
  planes and centroid samples, vectors floor-quantized to int64, int64
  dots and squared distances. Only the final re-rank is a cosine, and
  it is the same rounded expression as ``brute_force_topk``. So the
  approximation's error is checkable: the oracle replays the candidate
  set, and the rows-only keys pin recall against brute force.

On the uniform-random synthetic embeddings (LSH's and PQ's
adversarial case: no cluster structure) candidate counts approach
brute force before recall does; the workload keys document measured
recall per family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.functions.vectors import cosine_similarity


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
    max_broadcast_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k: broadcast-cross-join queries against the
    corpus. Output: (query_id, neighbor_id, rank, sim).

    The query side is broadcast unconditionally, so its size is the
    scale contract: ``max_broadcast_queries`` fails fast before a large
    query frame is shipped to every executor (10k x 768 float x ~8 B
    is ~60 MB — near the practical broadcast ceiling). Batch-scoring a
    bigger query set is a different plan (LSH/IVF, or a shuffled join
    on bucketed candidates) — refuse rather than silently OOM the
    driver."""
    n_queries = queries.count()
    if n_queries > max_broadcast_queries:
        raise ValueError(
            f"brute_force_topk broadcasts the query side: got {n_queries} "
            f"query rows > max_broadcast_queries={max_broadcast_queries}; "
            "use portable_lsh_topk/portable_ivf_topk for large query sets or "
            "raise the cap explicitly"
        )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    return _topk_per_query(scored, k)


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row; 0 for an empty frame."""
    row = df.select(vec_col).limit(1).collect()
    return len(row[0][0]) if row else 0


def _empty_topk_result(df: DataFrame, id_col: str):
    """Empty (query_id, neighbor_id, rank, sim) frame with the id type
    taken from the input (empty corpora must not change schemas)."""
    id_type = dict(df.dtypes)[id_col]
    return df.sparkSession.createDataFrame(
        [], f"query_id {id_type}, neighbor_id {id_type}, rank int, sim double"
    )


def _partition_shortlister(qid_arr: np.ndarray, S: int, score_batch):
    """mapInPandas generator factory: accumulate the per-partition
    top-``S`` candidates per query, merged batch by batch, and emit
    ONE small (query_id, neighbor_id, approx_sim) frame per partition.
    ``score_batch(pdf) -> (ids, sims)`` returns the candidate ids and
    an (n_queries, n) similarity matrix with -inf marking excluded
    pairs (self-matches, unprobed cells). This is what keeps the
    shuffle bounded: only local shortlists ever cross an exchange."""
    n_queries = len(qid_arr)

    def run(batches):
        best_sims = np.full((n_queries, 0), 0.0)
        best_ids = np.empty((n_queries, 0), dtype=qid_arr.dtype)
        saw_rows = False
        for pdf in batches:
            if pdf.empty:
                continue
            saw_rows = True
            ids, sims = score_batch(pdf)
            all_sims = np.concatenate([best_sims, sims], axis=1)
            all_ids = np.concatenate(
                [best_ids, np.broadcast_to(ids, (n_queries, len(ids)))], axis=1
            )
            # exact per-query top-S with (-sim, id) tie order: lexsort is
            # O(width log width) on width <= S + batch — bounded
            order = np.lexsort((all_ids, -all_sims), axis=1)[:, :S]
            rows = np.arange(n_queries)[:, None]
            best_sims = all_sims[rows, order]
            best_ids = all_ids[rows, order]
        if not saw_rows:
            return
        width = best_sims.shape[1]
        keep = np.isfinite(best_sims).ravel()
        yield pd.DataFrame(
            {
                "query_id": np.repeat(qid_arr, width)[keep],
                "neighbor_id": best_ids.ravel()[keep],
                "approx_sim": best_sims.ravel()[keep],
            }
        )

    return run


def _portable_plane_coeffs(
    num_tables: int, num_planes: int, dim: int, tag: str = "lshp"
) -> np.ndarray:
    """Engine-neutral integer hyperplanes: coefficient (t, b, d) is
    ``(md5_60bit('tag:t:b:d') % 5) - 2`` — the same md5-prefix parse
    as :func:`~machine_learning_algorithm_sparkml__spark.operators.
    dedup.portable_hash60`, so a DuckDB oracle regenerates the
    IDENTICAL plane set from generate_series + md5 with no float
    randomness anywhere. Small symmetric ints {-2..2} behave like a
    coarse random projection (E[c]=0, i.i.d. across dims)."""
    import hashlib

    coeffs = np.empty((num_tables * num_planes, dim), dtype=np.int64)
    for t in range(num_tables):
        for b in range(num_planes):
            for d in range(dim):
                h = int(
                    hashlib.md5(f"{tag}:{t}:{b}:{d}".encode()).hexdigest()[:15], 16
                )
                coeffs[t * num_planes + b, d] = (h % 5) - 2
    return coeffs


def _portable_buckets_udf(coeffs: np.ndarray, num_tables: int, bits: int):
    """Arrow-batched PORTABLE bucket assignment: vectors are first
    quantized to exact integers ``floor(float64(v) * 1000)`` (float->
    double is exact, one double multiply is bit-identical on any
    engine, floor is order-free), then dotted with the integer planes
    in int64 — EXACT arithmetic, so the bucket of every vector is
    engine-reproducible, not just deterministic-per-build. |z| <=
    ~1000 scaled units x |c| <= 2 x dim 64 keeps every dot far under
    2^62 (the portable-hash rule).

    This is the engine's documented exception to "built-ins first":
    expressing T x b plane dot products as Catalyst fold expressions
    creates enormous expression trees (slow to analyze, slow per row);
    a vectorized pandas_udf turns the whole thing into one
    (batch x dim) @ (dim x T*b) matmul per Arrow batch. Returns
    array<int> of length num_tables (one bucket per table).

    The input is NOT spread before the UDF (r16 and r17 measured a
    fixed spread and a compute-aware sizer on all nine ANN keys, a win
    on none): even a couple of extra Python workers cost more than
    these one-matmul kernels earn back."""
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        z = np.floor(mat * 1000.0).astype(np.int64)
        signs = (z @ coeffs.T) >= 0  # exact int64 dots
        signs = signs.reshape(len(z), num_tables, bits)
        vals = (signs * weights).sum(axis=2).astype("int32")
        return pd.Series(list(vals))

    return buckets


def portable_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 12,
    tag: str = "lshp",
    multi_probe: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k whose ENTIRE pipeline an external engine can replay
    value-exactly (VERDICT r9 #4): bucket assignment runs in exact
    integer space (md5-seeded integer planes over floor-quantized
    vectors — see :func:`_portable_buckets_udf`), candidates are the
    union over tables of bucket collisions + Hamming-1 probes, and the
    final ranking is the same exact rounded cosine as
    :func:`brute_force_topk`. The candidate join is a broadcast of the
    probed query buckets against the bucketed corpus — no global cross
    product at 100 TB. More tables or fewer planes = higher recall,
    more candidates."""
    dim = _vector_dim(corpus, vec_col)
    if dim == 0:
        return _empty_topk_result(corpus, id_col)
    coeffs = _portable_plane_coeffs(num_tables, num_planes, dim, tag)
    udf = _portable_buckets_udf(coeffs, num_tables, num_planes)

    def table_buckets(df, id_alias):
        return df.select(
            F.col(id_col).alias(id_alias), udf(F.col(vec_col)).alias("bks")
        ).select(id_alias, F.posexplode("bks").alias("table", "bucket"))

    c_buckets = table_buckets(corpus, "neighbor_id")
    q_base = table_buckets(queries, "query_id")
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
        )
        q_buckets = q_base.select(
            "query_id", "table", F.explode(probes).alias("bucket")
        )
    else:
        q_buckets = q_base

    cands = (
        c_buckets.join(F.broadcast(q_buckets), ["table", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))

    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cands.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    return _topk_per_query(scored, k)


def portable_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 16,
    num_tables: int = 4,
    tag: str = "ndp",
) -> DataFrame:
    """Near-duplicate pair search whose ENTIRE pipeline an external
    engine can replay value-exactly — the pair-search twin of
    :func:`portable_lsh_topk` (VERDICT r12 #3: the last ANN-family key
    without an oracle-backed sibling). Bucket assignment runs in exact
    integer space (md5-seeded integer planes over floor-quantized
    vectors, exact int64 dots — :func:`_portable_buckets_udf`);
    candidates are per-(table, bucket) self-join collisions with
    ``id_a < id_b``; verification is the shared exact rounded cosine.
    Identical vectors land in the same bucket of EVERY table, so exact
    duplicates have recall 1.0 by construction regardless of banding —
    which is why this key can afford 16-bit buckets (few random
    collisions) where the top-k path uses 8.

    Plan shape: bucketed candidate self-join, no all-pairs product —
    the property that holds at 100 TB. Output: (id_a, id_b, sim)."""
    dim = _vector_dim(df, vec_col)
    if dim == 0:
        id_type = dict(df.dtypes)[id_col]
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, sim double"
        )
    coeffs = _portable_plane_coeffs(num_tables, num_planes, dim, tag)
    udf = _portable_buckets_udf(coeffs, num_tables, num_planes)
    # localCheckpoint, not cache: both legs of the candidate self-join
    # read these buckets; checkpoint materializes once and the blocks
    # are released by the ContextCleaner when the frame is GC'd, so a
    # long-lived session running many queries does not accumulate pins
    buckets = (
        df.select(F.col(id_col).alias("vid"), udf(F.col(vec_col)).alias("bks"))
        .select("vid", F.posexplode("bks").alias("table", "bucket"))
        .localCheckpoint(eager=True)
    )
    a = buckets.select(F.col("vid").alias("id_a"), "table", "bucket")
    b = buckets.select(F.col("vid").alias("id_b"), "table", "bucket")
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    scored = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 6)
        )
    )
    return scored.filter(F.col("sim") >= threshold).select("id_a", "id_b", "sim")


def _portable_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int, tag: str = "ivfc"
) -> np.ndarray:
    """Engine-neutral centroid SAMPLE: the k vectors whose
    ``md5('tag:' || id)`` 60-bit parse ranks smallest (ties by id) —
    a deterministic pseudo-random draw any engine reproduces with
    ORDER BY md5 LIMIT k. Returns the QUANTIZED (int64) centroid
    matrix in crank order. Bounded k x dim collect: the fit never
    reads more than k rows to the driver, at any corpus size."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{tag}:"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    rows = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("v"), h.alias("h"))
        .orderBy("h", "cid")
        .limit(k)
        .collect()
    )
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    return np.floor(mat * 1000.0).astype(np.int64)


def _portable_cells_udf(cz: np.ndarray, n_cells: int):
    """Arrow-batched EXACT cell assignment/probing: quantize the batch
    (floor(float64 * 1000), the portable rule), then squared L2 to
    every centroid entirely in int64 — |z|^2 - 2 z.c + |c|^2, every
    term far under 2^62 at |z|,|c| <= ~1000 x dim 64. Returns the
    centroid ranks ordered by (distance, crank) — position 0 is the
    assignment, the prefix is the probe list; ties resolve to the
    smaller crank on any engine because the sort key includes it."""
    c_sq = (cz * cz).sum(axis=1)

    @F.pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        z = np.floor(mat * 1000.0).astype(np.int64)
        d2 = (z * z).sum(axis=1)[:, None] - 2 * (z @ cz.T) + c_sq[None, :]
        order = np.argsort(d2, axis=1, kind="stable").astype("int32")
        return pd.Series(list(order[:, :n_cells]))

    return cells


def portable_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_centroids: int = 32,
    n_probe: int = 16,
    tag: str = "ivfc",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN whose ENTIRE pipeline an external engine replays
    value-exactly — the second portable-ANN family after
    :func:`portable_lsh_topk`, proving the playbook generalizes
    beyond hashing: centroids are a deterministic md5-ranked SAMPLE
    of the corpus (no float KMeans fit), cell assignment and query
    probing are exact int64 squared-L2 over floor-quantized vectors,
    and the rerank is the shared rounded cosine. Plan shape: bucketed
    cell join, broadcast probe list, no cross product. Sampled
    centroids partition uniform data worse than fitted ones, so recall
    at equal probe count is lower — measured and documented in the
    workload key; the 100 TB shape (one corpus pass to assign,
    candidates bounded by probed cells) is the standard IVF one."""
    dim = _vector_dim(corpus, vec_col)
    if dim == 0:
        return _empty_topk_result(corpus, id_col)
    cz = _portable_centroids(corpus, id_col, vec_col, num_centroids, tag)

    assign_udf = _portable_cells_udf(cz, 1)
    probe_udf = _portable_cells_udf(cz, n_probe)

    c_cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(assign_udf(F.col(vec_col)), 1).alias("cell"),
    )
    q_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )
    cands = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))

    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cands.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    return _topk_per_query(scored, k)


def _portable_pq_encode_udf(cw: np.ndarray, m: int, sub: int):
    """Arrow-batched EXACT PQ encode: floor-quantize the batch, then
    per subspace j take the argmin of int64 squared-L2 against the
    codeword slice ``cw[:, j*sub:(j+1)*sub]``. ``np.argmin`` takes the
    FIRST minimum, so ties resolve to the smaller codeword rank on any
    engine (ORDER BY d2, crank). Returns array<int> of m codes."""

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        z = np.floor(mat * 1000.0).astype(np.int64)
        codes = np.empty((len(z), m), dtype="int32")
        for j in range(m):
            x = z[:, j * sub : (j + 1) * sub]
            bj = cw[:, j * sub : (j + 1) * sub]
            # int64 matmul form |x|^2 - 2 x.b + |b|^2: bit-identical to
            # the expanded difference (exact integer arithmetic, every
            # term << 2^62 at |x|,|b| <= ~1000 x sub<=64), without the
            # (n, ks, sub) broadcast temporary
            d2 = (
                (x * x).sum(axis=1)[:, None]
                - 2 * (x @ bj.T)
                + (bj * bj).sum(axis=1)
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def portable_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 16,
    ks: int = 16,
    shortlist_factor: int = 20,
    tag: str = "pqc",
    exclude_self: bool = True,
    max_broadcast_queries: int = 10_000,
) -> DataFrame:
    """Product-quantization ANN whose ENTIRE pipeline an external
    engine replays value-exactly (VERDICT r11 "Next round" #4) — the
    third portable-ANN family, extending the portable-centroid recipe
    from whole-vector centroids (:func:`portable_ivf_topk`) to
    per-subspace codebooks:

    - the ``ks`` codeword SOURCE vectors are one md5-ranked sample of
      the corpus (``_portable_centroids``, tag ``pqc``); subspace j's
      codebook is their j-th quantized sub-slice — so codebook choice
      is ORDER BY md5 LIMIT ks in any engine, no float KMeans;
    - encoding is, per subspace, the argmin of EXACT int64 squared-L2
      between the floor-quantized subvector and each codeword slice
      (ties to the smaller codeword rank);
    - the ADC shortlist scores a coded vector as the EXACT int64 sum
      of per-subspace lookup-table distances ``Σ_j |zq_j - cw[code_j]|²``
      (each term < 2^31, the total < 2^40 — exact in the double that
      carries it across the exchange), ranked (distance asc, id asc);
    - the final top-k re-ranks the shortlist by the shared exact
      rounded cosine.

    Plan shape: bounded ks x dim codebook collect, one Arrow-batched
    encode projection, per-partition local shortlists via
    ``mapInPandas`` (the exchange carries at most n_partitions x S x
    n_q rows — codes only, never the n x q cross product), exact
    re-rank on survivors. The global top-S per query is exact over the
    union of local top-S sets (a per-partition top-S always contains
    every global top-S member in that partition). Sampled codewords
    trade quantization tightness for replayability, compensated by the
    shortlist factor (measured recall documented at the workload key).
    """
    dim = _vector_dim(corpus, vec_col)
    if dim == 0:
        return _empty_topk_result(corpus, id_col)
    if dim % m != 0:
        raise ValueError(f"portable_pq_topk: dim {dim} not divisible by m={m}")
    sub = dim // m

    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    n_queries = len(q_rows)
    if n_queries > max_broadcast_queries:
        raise ValueError(
            f"portable_pq_topk ships per-query lookup tables to every task: "
            f"got {n_queries} query rows > max_broadcast_queries="
            f"{max_broadcast_queries}; batch the query set or raise the cap"
        )
    if n_queries == 0:
        return _empty_topk_result(corpus, id_col)

    # md5-ranked codeword sources, quantized (ks x dim int64); subspace
    # j's codebook is columns [j*sub, (j+1)*sub)
    cw = _portable_centroids(corpus, id_col, vec_col, ks, tag)
    encode = _portable_pq_encode_udf(cw, m, sub)

    # exact int64 ADC tables: lut[q, j, c] = |zq_j - cw_c_j|²
    qids = [r.qid for r in q_rows]
    qmat = np.vstack([np.asarray(r.qv, dtype="float64") for r in q_rows])
    zq = np.floor(qmat * 1000.0).astype(np.int64)
    lut = np.empty((n_queries, m, ks), dtype=np.int64)
    for j in range(m):
        xq = zq[:, j * sub : (j + 1) * sub]
        bj = cw[:, j * sub : (j + 1) * sub]
        lut[:, j, :] = (
            (xq * xq).sum(axis=1)[:, None]
            - 2 * (xq @ bj.T)
            + (bj * bj).sum(axis=1)
        )
    qid_arr = np.asarray(qids)
    S = shortlist_factor * k

    def score_batch(pdf):
        codes = np.vstack(pdf["codes"].to_numpy())  # (n, m)
        ids = pdf["neighbor_id"].to_numpy()
        d2 = np.zeros((n_queries, len(ids)), dtype=np.int64)
        for j in range(m):
            d2 += lut[:, j, :][:, codes[:, j]]
        # negate: the shortlister keeps the LARGEST scores; int64 ADC
        # sums are < 2^40, exact in float64
        sims = -d2.astype(np.float64)
        if exclude_self:
            sims = np.where(qid_arr[:, None] == ids[None, :], -np.inf, sims)
        return ids, sims

    local_shortlist = _partition_shortlister(qid_arr, S, score_batch)
    id_type = dict(corpus.dtypes)[id_col]
    codes_df = corpus.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )
    local = codes_df.mapInPandas(
        local_shortlist,
        schema=f"query_id {id_type}, neighbor_id {id_type}, approx_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    shortlist = (
        local.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= S)
        .select("query_id", "neighbor_id")
    )
    c_vecs = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q_vecs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        shortlist.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    return _topk_per_query(scored, k)


def portable_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ks: int = 16,
    shortlist_factor: int = 20,
    cell_tag: str = "ivfc",
    code_tag: str = "pqc",
    exclude_self: bool = True,
    max_broadcast_queries: int = 10_000,
) -> DataFrame:
    """IVF+PQ (the IVFADC composition: Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) with
    EVERY stage engine-replayable — the portable-ANN playbook's
    capstone, composing the two proven recipes verbatim: coarse cells
    are the md5-ranked sampled centroids + exact int64 squared-L2
    assignment of :func:`portable_ivf_topk` (same ``ivfc`` ranking —
    the C=16 centroid set is a prefix of the IVF key's 32), PQ codes
    are the per-subspace md5-sampled codebooks + int64 encode of
    :func:`portable_pq_topk` (same ``pqc`` sample), and scoring is the
    exact int64 ADC shortlist masked per query to its probed cells,
    ranked (distance asc, id asc), re-ranked by the shared rounded
    cosine. DuckDB replays cell choice, probe lists, every code, the
    masked shortlist, and the final top-k value-exactly.

    Plan shape: one Arrow-batched assign+encode projection, the scan
    pruned to the union of probed cells (partition pruning once the
    codes table is written partitioned by cell), per-partition local
    shortlists, exact re-rank on the global top-S survivors."""
    dim = _vector_dim(corpus, vec_col)
    if dim == 0:
        return _empty_topk_result(corpus, id_col)
    if dim % m != 0:
        raise ValueError(f"portable_ivfpq_topk: dim {dim} not divisible by m={m}")
    sub = dim // m
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    n_queries = len(q_rows)
    if n_queries > max_broadcast_queries:
        raise ValueError(
            f"portable_ivfpq_topk ships per-query lookup tables to every "
            f"task: got {n_queries} query rows > max_broadcast_queries="
            f"{max_broadcast_queries}; batch the query set or raise the cap"
        )
    if n_queries == 0:
        return _empty_topk_result(corpus, id_col)
    n_probe = min(n_probe, num_centroids)

    cz = _portable_centroids(corpus, id_col, vec_col, num_centroids, cell_tag)
    cw = _portable_centroids(corpus, id_col, vec_col, ks, code_tag)
    assign_udf = _portable_cells_udf(cz, 1)
    encode_udf = _portable_pq_encode_udf(cw, m, sub)

    qids = [r.qid for r in q_rows]
    qmat = np.vstack([np.asarray(r.qv, dtype="float64") for r in q_rows])
    zq = np.floor(qmat * 1000.0).astype(np.int64)
    # exact int64 probe lists, ties to the smaller crank (stable
    # argsort over crank-ordered rows == ORDER BY d2, crank)
    qd2_cells = (
        (zq * zq).sum(axis=1)[:, None] - 2 * (zq @ cz.T) + (cz * cz).sum(axis=1)[None, :]
    )
    probe_order = np.argsort(qd2_cells, axis=1, kind="stable")[:, :n_probe]
    probe_mask = np.zeros((n_queries, num_centroids), dtype=bool)
    probe_mask[np.arange(n_queries)[:, None], probe_order] = True
    allowed_cells = sorted({int(c) for c in probe_order.ravel()})

    lut = np.empty((n_queries, m, ks), dtype=np.int64)
    for j in range(m):
        xq = zq[:, j * sub : (j + 1) * sub]
        bj = cw[:, j * sub : (j + 1) * sub]
        lut[:, j, :] = (
            (xq * xq).sum(axis=1)[:, None]
            - 2 * (xq @ bj.T)
            + (bj * bj).sum(axis=1)
        )
    qid_arr = np.asarray(qids)
    S = shortlist_factor * k

    def score_batch(pdf):
        codes = np.vstack(pdf["codes"].to_numpy())
        ids = pdf["neighbor_id"].to_numpy()
        cells = pdf["cell"].to_numpy()
        d2 = np.zeros((n_queries, len(ids)), dtype=np.int64)
        for j in range(m):
            d2 += lut[:, j, :][:, codes[:, j]]
        sims = -d2.astype(np.float64)  # exact: ADC sums < 2^40
        # per-query IVF pruning: a row competes only for queries that
        # probed its cell
        sims = np.where(probe_mask[:, cells], sims, -np.inf)
        if exclude_self:
            sims = np.where(qid_arr[:, None] == ids[None, :], -np.inf, sims)
        return ids, sims

    id_type = dict(corpus.dtypes)[id_col]
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(assign_udf(F.col(vec_col)), 1).alias("cell"),
        encode_udf(F.col(vec_col)).alias("codes"),
    ).filter(F.col("cell").isin(allowed_cells))
    local = coded.mapInPandas(
        _partition_shortlister(qid_arr, S, score_batch),
        schema=f"query_id {id_type}, neighbor_id {id_type}, approx_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    shortlist = (
        local.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= S)
        .select("query_id", "neighbor_id")
    )
    c_vecs = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q_vecs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        shortlist.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    return _topk_per_query(scored, k)
