"""Similarity search over embedding columns: exact top-k baselines and
approximate (LSH / IVF) scale paths.

- ``topk_per_query``       — exact brute-force cosine top-k for a batch of
                             query vectors (the correctness baseline).
- ``RandomHyperplaneLSH``  — signed-random-projection signatures; bucket
                             join for candidate generation (cosine ANN).
- ``ivf_build / ivf_topk`` — IVF-style partition pruning: k-means-ish
                             centroids (deterministic seeded init +
                             Lloyd iterations in DataFrame ops), probe
                             only the ``nprobe`` nearest inverted lists.

At 100 TB the exact path is one scan + TakeOrdered per query batch
(queries broadcast, no shuffle); the IVF path prunes the scan to
nprobe/nlist of the data — the classic recall/throughput dial.
ANN variants are tested by recall against the exact baseline, never by
hash (SURVEY.md §4.2).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hippollm_spark import plan
from hippollm_spark.functions import vectors as V


def topk_per_query(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "cosine",
    spread: bool = True,
) -> DataFrame:
    """Exact top-k neighbours for each query vector.

    Plan: broadcast the (small) query table, score every (query, vec)
    pair, rank with a window per query. One shuffle of
    (query_id, vec_id, score) — never the vectors themselves.
    Output: (query_id, vec_id, rank INT, score 6dp), score = cosine
    similarity (desc) or negative L2 (so rank 1 is always 'closest').
    Scores are JVM expressions (sequential fold — bit-identical to the
    DuckDB oracle).
    """
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    # score n_vecs × n_queries cosine folds: a compact parquet
    # input is ONE scan split, so without the stats-gated spread
    # the whole scoring chain runs on one core (measured r12:
    # knn_labels' 1.43 s single-task stage was this crossJoin) —
    # the plan.spread discipline, ANN-scoring flavor (guide §2.5).
    # ``spread=False`` for single-query callers, where the
    # round-robin exchange of the vectors costs more than the one
    # query's scoring wins back (measured r12: mmr_rerank/bm25_ndcg
    # +0.2-0.3 s with the spread, knn_labels (20 queries) −0.5 s).
    src = vecs.select(id_col, vec_col)
    if spread:
        src = plan.spread(src)
    return _rank_per_query(
        src.crossJoin(q), k, metric, id_col, vec_col, query_id_col, query_vec_col
    )


def _rank_per_query(
    paired: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Score (vector, query) pairs and keep each query's k best:
    (query_id, vec_id, rank INT, score 6dp), score = cosine similarity
    or negative L2, ties to the smaller vec_id."""
    if metric == "cosine":
        score = V.cosine_similarity(F.col(vec_col), F.col(query_vec_col))
    elif metric == "l2":
        score = -V.l2_distance(F.col(vec_col), F.col(query_vec_col))
    else:
        raise ValueError(metric)
    scored = paired.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(score, 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "score")
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH (cosine)
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_bits, dim)


def srp_signature(
    vecs: DataFrame,
    dim: int,
    n_bits: int = 16,
    seed: int = 42,
    *,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Signed-random-projection signature as a single LONG bucket id.
    Hyperplanes are seeded + broadcast; the sign-bit packing runs as a
    vectorized Arrow UDF (one matmul per batch)."""
    planes = _hyperplanes(dim, n_bits, seed)

    @F.pandas_udf("long")
    def _sig(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = np.array(emb.tolist(), dtype=np.float64)
        bits = (mat @ planes.T) > 0
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        return pd.Series(bits @ weights)

    return vecs.withColumn(out_col, _sig(F.col(vec_col)))


def lsh_dup_pairs(
    vecs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bits: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine near-dup pairs: candidates = vectors sharing a
    bucket in ANY of ``n_tables`` independent hash tables; candidates
    verified with exact cosine. The scalable counterpart of
    dedup.embedding_dup_pairs (recall-tested against it)."""
    sig = vecs.select(id_col, vec_col)
    for t in range(n_tables):
        sig = srp_signature(
            sig, dim, n_bits, seed + 1000 * t, vec_col=vec_col, out_col=f"b{t}"
        )
    buckets = sig.select(
        id_col,
        vec_col,
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(n_tables)])).alias(
            "table_idx", "bucket"
        ),
    )
    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "table_idx", "bucket"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "table_idx", "bucket"
    )
    cands = (
        a.join(b, on=["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
        .distinct()
    )
    return (
        cands.withColumn("cos", F.round(V.cosine_similarity("va", "vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# --------------------------------------------------------------------------
# IVF-style partition pruning
# --------------------------------------------------------------------------
#
# One distance kernel serves every numpy stage below: IVF assignment and
# probe selection, Lloyd training, PQ encode and PQ lookup tables. It is
# exact int64 on the e6 paths, and its first-minimum / stable orders
# send ties to the lowest list or centroid id (the oracle's tie-break).


def _sqdist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 from each row of ``a`` (one vector, or n×d) to each
    row of ``b`` (k×d): shape (k,) or (n, k)."""
    return ((a[..., None, :] - b) ** 2).sum(-1)


def _nearest(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Each row's nearest centroid; ties to the lowest centroid id."""
    return _sqdist(mat, cents).argmin(-1)


def _probe_lists(cents: np.ndarray, q: np.ndarray, nprobe: int) -> np.ndarray:
    """The ``nprobe`` lists nearest ``q`` (one vector, or n×d rows),
    nearest first; ties to the lowest list id."""
    return np.argsort(_sqdist(q, cents), axis=-1, kind="stable")[..., :nprobe]


def _probe_exact_l2(
    index: DataFrame,
    probe: Sequence[int],
    query_vec: Sequence[float],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-score the probed lists of an assigned table: a LITERAL
    ``list_id IN (...)`` (a pushable predicate — partition or bucket
    pruning when the table is laid out by list_id), the brute path's
    float L2, and its (distance, id) top-k."""
    pruned = index.filter(F.col("list_id").isin([int(i) for i in probe]))
    return (
        pruned.withColumn(
            "distance", V.l2_distance(F.col(vec_col), [float(x) for x in query_vec])
        )
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
    )


def ivf_build(
    vecs: DataFrame,
    nlist: int = 16,
    iters: int = 5,
    seed: int = 42,
    *,
    vec_col: str = "embedding",
):
    """Train centroids and return (assigned DataFrame with 'list_id',
    centroids ndarray).

    Seeded sample init + Lloyd iterations, all driver-side numpy on a
    ≤100k sample — centroid quality needs a representative sample, not
    every row.

    At scale the assigned table is written partitioned by list_id so a
    probe reads only nprobe partitions (partition pruning at the file
    level)."""
    sample = np.array(
        [r[0] for r in vecs.select(vec_col).limit(100_000).collect()],
        dtype=np.float64,
    )
    cents = _lloyd(sample, nlist, iters, np.random.RandomState(seed))

    @F.pandas_udf("int")
    def _assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        mat = np.array(emb.tolist(), dtype=np.float64)
        return pd.Series(_nearest(mat, cents).astype(np.int32))

    return vecs.withColumn("list_id", _assign(F.col(vec_col))), cents


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-vector probe: pick the nprobe nearest inverted lists on
    the driver and exact-score only those — no barrier, no collect."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    return _probe_exact_l2(
        assigned, _probe_lists(centroids, q, nprobe), q, k, id_col, vec_col
    )


@dataclass
class VecIndex:
    """A built IVF index handle: the assigned vector table (one
    ``list_id`` per vector) + driver-side centroids + probe width.
    The in-memory analogue of the reference's HNSW vector index
    (storage.py:124-133) — built once over a store, probed per vector
    (``closest``, via ``ivf_topk``) or per batch (``topk``, via
    ``ivf_topk_per_query``). ``from_table`` re-opens an index
    persisted with ``save_ivf_index`` (bucketed by list_id, so probes
    bucket-prune)."""

    assigned: DataFrame
    centroids: np.ndarray
    nprobe: int = 4
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    @classmethod
    def build(
        cls,
        vecs: DataFrame,
        nlist: int = 16,
        nprobe: int = 4,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        iters: int = 5,
    ) -> "VecIndex":
        assigned, cents = ivf_build(
            vecs, nlist, iters=iters, seed=seed, vec_col=vec_col
        )
        return cls(assigned, cents, nprobe, id_col, vec_col)

    @classmethod
    def from_table(
        cls,
        spark,
        table_prefix: str,
        nprobe: int = 4,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "VecIndex":
        rows = (
            spark.table(f"{table_prefix}_centroids").orderBy("list_id").collect()
        )
        cents = np.array([r["centroid"] for r in rows], dtype=np.float64)
        return cls(
            spark.table(f"{table_prefix}_ivf"), cents, nprobe, id_col, vec_col
        )

    def topk(self, queries: DataFrame, k: int = 10, *, metric: str = "cosine") -> DataFrame:
        return ivf_topk_per_query(
            self.assigned,
            self.centroids,
            queries,
            k=k,
            nprobe=self.nprobe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            metric=metric,
        )

    def closest(self, table: DataFrame, query_vec: Sequence[float], k: int) -> DataFrame:
        """The ``k`` rows of ``table`` nearest ``query_vec`` by the
        single-vector probe: ``table``'s own columns + ``distance``
        (the exact kNN layout), ascending (distance, id)."""
        hits = ivf_topk(
            self.assigned, self.centroids, query_vec, k=k, nprobe=self.nprobe,
            id_col=self.id_col, vec_col=self.vec_col,
        ).select(self.id_col, "distance")
        # ids + distance come from the probe; re-join the full rows.
        return (
            table.join(F.broadcast(hits), self.id_col)
            .select(*table.columns, "distance")
            .orderBy(F.asc("distance"), F.asc(self.id_col))
        )


def ivf_topk_per_query(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Batched IVF probe: ``topk_per_query`` semantics with the store
    scan pruned to each query's ``nprobe`` nearest inverted lists —
    the batch counterpart of the single-vector ``ivf_topk``.

    Plan shape (the 100-TB one): each query maps to its nprobe list
    ids with a broadcast-centroid pandas_udf, the (query, list_id)
    pairs explode and BROADCAST onto the assigned table, and the
    assigned side carries a LITERAL ``list_id IN (...)`` (the distinct
    probed lists, ≤ nlist integers collected driver-side) so a
    list_id-bucketed/partitioned store reads only the probed buckets.
    Distance work is O(|batch| · |store| · nprobe / nlist) instead of
    the exact path's |batch| · |store| — never a crossJoin against the
    full store.

    Output: (query_id, vec_id, rank INT, score 6dp) — identical
    contract to ``topk_per_query`` (score = cosine sim desc or
    negative L2), so callers can swap exact → indexed untouched.
    Recall-grade, not hash-grade: a true neighbour outside the probed
    lists is missed (recall is tested against the exact baseline;
    nprobe = nlist reproduces the exact result).
    """
    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def _probe(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(qv.tolist(), dtype=np.float64)
        return pd.Series(
            [[int(j) for j in row] for row in _probe_lists(cents, mat, nprobe)]
        )

    # Pin before the driver action: the collect below and the
    # broadcast join both consume q_lists, and the upstream query
    # plan is often an expensive (and possibly nondeterministic —
    # LLM-derived embeddings) model stage. Unpinned, that stage
    # runs twice AND the literal IN-list could come from a
    # different execution than the joined rows, silently dropping
    # a re-derived query's candidates.
    q_lists = plan.barrier(
        queries.select(
            query_id_col,
            query_vec_col,
            F.explode(_probe(F.col(query_vec_col))).alias("list_id"),
        ),
        eager=True,
    )
    # ≤ nlist distinct ints: a bounded driver action that buys literal
    # bucket/partition pruning on the store side.
    probed = sorted(
        r[0] for r in q_lists.select("list_id").distinct().collect()
    )
    pruned = assigned.filter(F.col("list_id").isin(probed)).select(
        "list_id", id_col, vec_col
    )
    # no dedup needed: each store vector lives in exactly one list, so
    # a (query, vec) pair can match through at most one probed list.
    return _rank_per_query(
        pruned.join(F.broadcast(q_lists), "list_id"),
        k, metric, id_col, vec_col, query_id_col, query_vec_col,
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# --------------------------------------------------------------------------
#
# The memory dial the LSH/IVF paths don't have: a dim-d float vector
# (4d bytes as float32 at rest) becomes m uint8 codes (m bytes) — 32x
# compression at d=64/m=8, 192x at the reference's d=384/m=8
# (SURVEY.md §1.1: all-MiniLM-L6-v2, dim 384). At 100 TB of raw
# embeddings the PQ-coded table is a few hundred GB, small enough to
# keep hot, and a query scans only codes + a broadcast (m x ksub)
# lookup table — the scan never touches the original vectors
# (Jegou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011 — asymmetric distance computation / ADC).


def _lloyd(sample: np.ndarray, ksub: int, iters: int, rng: np.random.RandomState) -> np.ndarray:
    cents = sample[rng.choice(len(sample), size=min(ksub, len(sample)), replace=False)]
    for _ in range(iters):
        assign = _nearest(sample, cents)
        for j in range(len(cents)):
            mask = assign == j
            if mask.any():
                cents[j] = sample[mask].mean(0)
    return cents


def _pq_codes(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) nearest-centroid code per PQ subspace."""
    m, _, dsub = codebooks.shape
    return np.stack(
        [_nearest(mat[:, j * dsub : (j + 1) * dsub], codebooks[j]) for j in range(m)],
        axis=1,
    )


def _pq_lut(codebooks: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(m, ksub) squared distances from each subvector of ``q`` to each
    centroid of its subspace — the asymmetric-distance lookup table."""
    m, _, dsub = codebooks.shape
    return np.stack([_sqdist(q[j * dsub : (j + 1) * dsub], codebooks[j]) for j in range(m)])


def _adc(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Asymmetric distance of each (n, m) code row: m LUT gathers, summed."""
    return lut[np.arange(lut.shape[0]), codes].sum(1)


def pq_build(
    vecs: DataFrame,
    m: int = 8,
    ksub: int = 256,
    iters: int = 5,
    seed: int = 42,
    *,
    vec_col: str = "embedding",
    sample_limit: int = 100_000,
) -> np.ndarray:
    """Train per-subspace codebooks on a sample (driver-side Lloyd, like
    ``ivf_build`` — the codebook is m*ksub*dsub doubles, i.e. KBs, so it
    broadcasts for free). Returns ndarray (m, ksub, dsub)."""
    sample = np.array(
        [r[0] for r in vecs.select(vec_col).limit(sample_limit).collect()],
        dtype=np.float64,
    )
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    return np.stack(
        [_lloyd(sample[:, j * dsub : (j + 1) * dsub], ksub, iters, rng) for j in range(m)]
    )


def pq_encode(
    vecs: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Add a BINARY column of m uint8 codes (nearest centroid per
    subspace). One Arrow-batched pass; at rest the coded table is
    m bytes/vector + ids — this is the table a 100-TB deployment scans."""
    cb = codebooks  # captured in the closure, shipped once per executor

    @F.pandas_udf("binary")
    def _enc(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.zeros(0, dtype=object))
        mat = np.array(emb.tolist(), dtype=np.float64)
        codes = _pq_codes(mat, cb).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return vecs.withColumn(code_col, _enc(F.col(vec_col)))


def pq_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes.

    Driver precomputes the (m x ksub) table of squared distances from
    each query subvector to each centroid; executors score a row with m
    byte-indexed lookups — no float vectors are read at all. Plan:
    scan(codes) -> pandas_udf(LUT gather) -> TakeOrderedAndProject
    (partition-local top-k, driver merge, no shuffle).
    Output: (id, distance) ascending approximate L2^2, tie-break id.
    """
    m, ksub, dsub = codebooks.shape
    q = np.asarray(list(query_vec), dtype=np.float64)
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    lut = _pq_lut(codebooks, q)  # (m, ksub) float64

    @F.pandas_udf("double")
    def _dist(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series(np.zeros(0))
        arr = np.frombuffer(b"".join(codes.tolist()), dtype=np.uint8).reshape(-1, m)
        return pd.Series(_adc(lut, arr))

    return (
        encoded.select(id_col, code_col)
        .withColumn("distance", _dist(F.col(code_col)))
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
        .select(id_col, "distance")
    )


def load_pq_codebooks_e6() -> dict:
    """Load the persisted integer PQ codebooks (trained once by
    tools/train_pq_pca_assets.py at sf0.01, quantized to e6 units).
    The deployed-model discipline: training is a one-off float job
    (``pq_build``, pytest/recall-covered); *serving* replays an exact
    BIGINT scan against the frozen artifact, so the scan is
    hash-checkable on any engine and any scale factor."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "assets", "pq_codebooks_e6.json"
    )
    with open(path) as f:
        return json.load(f)


def load_pca_components_e6() -> dict:
    """Load the persisted integer PCA artifact (mean + top-k components
    from a one-off ``pca_fit``, e6-quantized). See load_pq_codebooks_e6
    for the discipline."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "assets", "pca_components_e6.json"
    )
    with open(path) as f:
        return json.load(f)


def pq_adc_scan_quantized(
    vecs: DataFrame,
    codebooks_e6: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-integer PQ serving scan: encode + asymmetric-distance in
    ONE Arrow pass against frozen e6 codebooks, then TakeOrdered.

    Every arithmetic step is int64 — quantize coords via the engine's
    ``round(x*1e6)`` (the kmeans_clusters discipline), per-subspace
    argmin with (dist, cid) tie-break (numpy argmin's first-occurrence
    IS the smallest cid), LUT gather, BIGINT sum — so DuckDB reproduces
    the output bit-for-bit from the same codebook literals. Plan:
    scan -> pandas_udf -> TakeOrderedAndProject (partition-local top-k,
    driver merge, no shuffle); at 100 TB the scan reads only
    (id, m-byte code) when run over a pre-encoded table — here encode
    is fused into the same pass for the single-query serving shape.
    Output: (id, dist_e12 BIGINT) ascending, tie-break id.
    """
    cb = np.asarray(codebooks_e6, dtype=np.int64)
    m, _, dsub = cb.shape
    q = np.asarray(list(query_vec))
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    if np.issubdtype(q.dtype, np.integer):
        # pre-quantized e6 query (quantize with the ENGINE's round so the
        # oracle's round(x*1e6) sees identical integers — half-up vs
        # numpy half-even differs on exact .5 boundaries)
        q_e6 = q.astype(np.int64)
    else:
        q_e6 = np.round(q.astype(np.float64) * 1_000_000.0).astype(np.int64)
    lut = _pq_lut(cb, q_e6)  # (m, ksub) int64, exact

    quant = vecs.select(F.col(id_col), V.to_e6(vec_col).alias("__v__"))

    @F.pandas_udf("long")
    def _enc_adc(ve: pd.Series) -> pd.Series:
        if len(ve) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = np.array(ve.tolist(), dtype=np.int64)
        return pd.Series(_adc(lut, _pq_codes(mat, cb)))

    return (
        quant.withColumn("dist_e12", _enc_adc(F.col("__v__")))
        .orderBy(F.asc("dist_e12"), F.asc(id_col))
        .limit(k)
        .select(id_col, "dist_e12")
    )


def load_ivfpq_e6() -> dict:
    """Load the persisted integer IVF-PQ artifact (coarse centroids +
    residual codebooks from tools/train_pq_pca_assets.py, e6-quantized).
    See load_pq_codebooks_e6 for the discipline."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "assets", "ivfpq_e6.json"
    )
    with open(path) as f:
        return json.load(f)


def _ivfpq_probe(
    coarse_e6: np.ndarray,
    codebooks_e6: np.ndarray,
    query_e6: Sequence[int],
    nprobe: int,
) -> tuple[np.ndarray, np.ndarray, dict[int, np.ndarray]]:
    """The IVFADC probe, in exact int64: (centroids, codebooks, LUTs),
    with one residual LUT per probed list — the query minus that
    list's centroid, against the codebooks — keyed by list id, nearest
    list first."""
    cents = np.asarray(coarse_e6, dtype=np.int64)
    cb = np.asarray(codebooks_e6, dtype=np.int64)
    m, _, dsub = cb.shape
    q = np.asarray(list(query_e6), dtype=np.int64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"query dim {q.shape[0]} != {m * dsub}")
    probed = _probe_lists(cents, q, nprobe)
    return cents, cb, {int(l): _pq_lut(cb, q - cents[l]) for l in probed}


def ivfpq_scan_quantized(
    vecs: DataFrame,
    coarse_e6: np.ndarray,
    codebooks_e6: np.ndarray,
    query_e6: Sequence[int],
    k: int = 10,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-integer IVF-PQ (IVFADC) serving scan against frozen e6
    artifacts: coarse-assign every vector to its nearest centroid,
    keep only the ``nprobe`` lists nearest the query (the partition
    pruning that makes 100-TB ANN affordable — (nlist−nprobe)/nlist of
    the corpus is never scored), PQ-encode the RESIDUAL
    (x − centroid) per subspace, and score with per-list asymmetric
    LUTs built from the query's residual in each probed list (Jegou
    et al., TPAMI 2011 §IV). Every arithmetic step is int64 with
    (dist, id) tie-breaks, so DuckDB replays the whole scan — coarse
    argmin, probe selection, residual encode, LUT gather — bit-for-bit
    from the same literals at any sf.

    At deployment the codes table is precomputed and list-partitioned
    (codes are m bytes/vector; probed lists prune at the partition
    level); here encode is fused into the single Arrow pass for the
    serving shape, and the coarse argmin doubles as the probe filter.
    Output: (id, dist_e12 BIGINT) ascending approximate residual-ADC
    distance, tie-break id.
    """
    cents, cb, luts = _ivfpq_probe(coarse_e6, codebooks_e6, query_e6, nprobe)
    quant = vecs.select(F.col(id_col), V.to_e6(vec_col).alias("__v__"))

    @F.pandas_udf("long")
    def _scan(ve: pd.Series) -> pd.Series:
        if len(ve) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = np.array(ve.tolist(), dtype=np.int64)
        assign = _nearest(mat, cents)
        out = np.full(len(mat), -1, dtype=np.int64)  # -1 = pruned
        for l, lut in luts.items():
            mask = assign == l
            if mask.any():
                out[mask] = _adc(lut, _pq_codes(mat[mask] - cents[l], cb))
        return pd.Series(out)

    # The pruned-list filter below references the UDF's output column,
    # and Catalyst's filter pushdown then evaluates the UDF TWICE — once
    # under the pushed filter and again in the projection (two
    # ArrowEvalPython nodes over the same scan; guide §4.4). The UDF is
    # deterministic, but marking it non-deterministic forbids the
    # duplication: one ADC pass per row instead of two.
    _scan_once = _scan.asNondeterministic()
    return (
        quant.withColumn("dist_e12", _scan_once(F.col("__v__")))
        .filter(F.col("dist_e12") >= 0)
        .orderBy(F.asc("dist_e12"), F.asc(id_col))
        .limit(k)
        .select(id_col, "dist_e12")
    )


def ivfpq_topk_rerank(
    vecs: DataFrame,
    coarse_e6: np.ndarray,
    codebooks_e6: np.ndarray,
    query_e6: Sequence[int],
    k: int = 10,
    nprobe: int = 4,
    *,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC-R (Jegou et al., TPAMI 2011 §V): the `ivfpq_scan_quantized`
    ADC pass produces a ``rerank``-deep shortlist, whose ``rerank``
    rows are then re-scored with the EXACT integer distance and cut to
    top-k — the standard serving refinement that converts PQ's
    distortion-limited ranking into a coarse-quantizer-limited one
    (measured on the sf0.1 table: re-rank recovers ≥95% of whatever
    the probed lists admit; see the recall table in COVERAGE.md).

    Scale shape: the ADC scan stays the only corpus-wide pass (list-
    pruned, m-byte codes); the re-rank is one broadcast semi-join of
    ``rerank`` ids against the store plus an O(rerank·d) exact-distance
    map — at deployment this is the page of full vectors fetched for
    the shortlist, never the corpus. All integer, (dist, id)
    tie-breaks, so DuckDB replays shortlist AND re-rank bit-for-bit.
    Output: (id, dist_e12 BIGINT exact) ascending, tie-break id.
    """
    q = np.asarray(list(query_e6), dtype=np.int64)
    short = ivfpq_scan_quantized(
        vecs, coarse_e6, codebooks_e6, query_e6,
        k=int(rerank), nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    ).select(id_col)
    qlit = F.array(*[F.lit(int(x)) for x in q])
    exact = (
        vecs.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.aggregate(
                F.zip_with(
                    V.to_e6(vec_col),
                    qlit,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist_e12"),
        )
    )
    return (
        exact.orderBy(F.asc("dist_e12"), F.asc(id_col))
        .limit(k)
        .select(id_col, "dist_e12")
    )


def pca_project_quantized(
    vecs: DataFrame,
    mean_e6: Sequence[int],
    components_e6: Sequence[Sequence[int]],
    *,
    vec_col: str = "embedding",
    out_col: str = "proj_e12",
) -> DataFrame:
    """Exact-integer PCA projection against frozen e6 components:
    proj[pc] = Σ_j (ve[j] − mean_e6[j]) · comp_e6[pc][j], all int64 —
    the transform a deployed PCA applies to new data (fit-time mean and
    components, not refit per batch). One Arrow pass, no shuffle; the
    d→k reduction is the 100-TB story (ANN / blocking over k dims).
    Adds ``out_col`` as array<long> of length k (e12 units)."""
    mu = np.asarray(list(mean_e6), dtype=np.int64)
    comps = np.asarray(components_e6, dtype=np.int64)

    quant = vecs.withColumn("__v__", V.to_e6(vec_col))

    @F.pandas_udf("array<long>")
    def _proj(ve: pd.Series) -> pd.Series:
        if len(ve) == 0:
            return pd.Series(np.zeros(0, dtype=object))
        mat = np.array(ve.tolist(), dtype=np.int64)
        out = (mat - mu) @ comps.T  # int64 exact
        return pd.Series(list(out))

    return quant.withColumn(out_col, _proj(F.col("__v__"))).drop("__v__")


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "sql",
) -> tuple[list[list[int]], DataFrame]:
    """Distributed Lloyd k-means in exact fixed-point arithmetic — the
    same determinism discipline as the exact-integer PageRank: floats
    cannot be hash-compared across engines once arithmetic compounds,
    so vectors are quantized to integer micro-units (×1e6, i.e. 6dp)
    and every subsequent operation — squared-L2 distances, argmin with
    (distance, cluster) tie-break, centroid means via sign-wrapped
    truncating division — is exact BIGINT math that any engine
    reproduces bit-for-bit. Quantization error is 1e-6 per coordinate,
    irrelevant next to Lloyd's own local-optimum noise; determinism is
    what a 100 TB pipeline needs (rerunning the job must not reshuffle
    cluster ids).

    Initialization: the k vectors with the smallest ids, cluster ids
    0..k-1 in id order (deterministic seed choice — at scale one
    samples ids first; any deterministic id set works).

    Per iteration: ONE job — assignment is a per-row expression over
    broadcast centroid literals (k·d integers inlined into the plan,
    no join), the centroid update aggregates (cluster, dim) sums via
    posexplode — a narrow (cluster, dim, sum) shuffle of k·d·P partial
    rows — and k·d totals collect to the driver where the means are
    computed in Python ints. Overflow: |coord_e6| ≤ ~1e9 ⇒ diff² ≤
    1e18·d… callers with coordinates beyond ±9e5 should scale down
    (documents/embeddings here are O(10)); sums over n rows stay in
    Python (unbounded) and BIGINT (n·1e6·1e6 ≤ 2^63 for n ≤ 9e6 per
    cluster per dim — partition-level partial sums make the Spark-side
    exact too at larger n via DECIMAL if ever needed).

    Returns (centroids_e6, assignments) where centroids_e6 is a
    k×d list of ints (final, post-update) and assignments is
    (id, cluster INT, dist_e12 BIGINT) computed against the FINAL
    centroids.

    ``method``: 'sql' evaluates the assignment as a codegen expression
    over k·d broadcast literals (hash-grade, the oracle's twin);
    'pandas' computes the IDENTICAL exact int64 arithmetic in a numpy
    mapInPandas stage — same integers, but the plan is not recompiled
    when centroids change between iterations (the literal expression
    tree is rebuilt per round), which shaves fixed cost at high k·d.
    """
    d = len(vectors.select(vec_col).first()[0])
    q = vectors.select(
        F.col(id_col).alias("__id__"), V.to_e6(vec_col).alias("__v__")
    ).cache()
    init = [
        r["__v__"]
        for r in q.orderBy("__id__").limit(k).collect()
    ]
    centroids: list[list[int]] = [list(map(int, v)) for v in init]

    id_type = vectors.schema[id_col].dataType.simpleString()

    def _assign(cents: list[list[int]]):
        if method == "pandas":
            # Same exact int64 arithmetic, computed in numpy: avoids
            # re-compiling the k*d-literal codegen expression on every
            # iteration (centroids change => new literals => new plan).
            # argmin ties resolve to the LOWEST cluster id (numpy
            # argmin returns the first minimum; cluster ids ascend),
            # identical to the (dist, cid) struct-sort tie-break.
            cmat = np.array(cents, dtype=np.int64)

            def _score(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    mat = np.array(pdf["__v__"].tolist(), dtype=np.int64)
                    d2 = _sqdist(mat, cmat)  # int64 exact
                    cid = d2.argmin(1)
                    yield pd.DataFrame(
                        {
                            "__id__": pdf["__id__"],
                            "cluster": cid.astype(np.int32),
                            "dist_e12": d2[np.arange(len(cid)), cid],
                        }
                    )

            # id field keeps the caller's type (string entity names,
            # ints, ...) — the SQL path preserves it implicitly
            return q.mapInPandas(
                _score, f"__id__ {id_type}, cluster int, dist_e12 long"
            )
        pairs = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("__v__"),
                            F.array(*[F.lit(int(c)) for c in cent]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cent in enumerate(cents)
            ]
        )
        best = F.array_sort(pairs)[0]
        return q.select(
            "__id__",
            best["cid"].cast("int").alias("cluster"),
            best["dist"].alias("dist_e12"),
        )

    def _tdiv(s: int, n: int) -> int:
        """Truncating (toward-zero) integer division — the sign-wrapped
        form both Spark's `div` and DuckDB's `//` agree on, because on
        the positive domain floor and truncation coincide."""
        return s // n if s >= 0 else -((-s) // n)

    for _ in range(iterations):
        assigned = _assign(centroids)
        sums = (
            assigned.join(q, "__id__")
            .select("cluster", F.posexplode("__v__").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty clusters keep position
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], []).append(
                (r["dim"], int(r["s"]), int(r["n"]))
            )
        for cid, dims in by_cluster.items():
            for dim, s, n in dims:
                new_c[cid][dim] = _tdiv(s, n)
        centroids = new_c
    # seal the final assignment (its inputs are cache-resident, so
    # this is one cheap materialization) and release the quantized
    # table pin — no CacheManager entry outlives the call
    return centroids, plan.seal(_assign(centroids), [q])


def _keepers(assigned: DataFrame) -> DataFrame:
    """One keeper per cluster — the member with the smallest
    (dist_e12, id) against the final centroids — as a struct-min
    AGGREGATE, not a window: min over a 2-field struct is O(1) state
    per group and map-side combinable, so a skewed embedding mode
    (90% of rows in one cluster) costs a partial-agg scan instead of
    one straggler task sorting the whole hot cluster. Returns
    (cluster, __kid__, keeper_dist_e12, n_members)."""
    agg = assigned.groupBy("cluster").agg(
        F.min(F.struct(F.col("dist_e12"), F.col("__id__"))).alias("__kp__"),
        F.count("*").alias("n_members"),
    )
    return agg.select(
        "cluster",
        F.col("__kp__.__id__").alias("__kid__"),
        F.col("__kp__.dist_e12").alias("keeper_dist_e12"),
        "n_members",
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023: prune
    semantic duplicates by clustering the embedding space and keeping
    one representative per cluster — the curation step between exact/
    near-dedup and training-mix construction). Built on `kmeans_fit`'s
    exact fixed-point Lloyd, so the whole operator is deterministic,
    integer, and hash-comparable across engines: the representative of
    each cluster is the member with the smallest (dist_e12, id) against
    the FINAL centroids.

    100-TB shape: clustering cost is kmeans_fit's (one narrow
    (cluster, dim) partial-sum shuffle per round); the representative
    pick and the member counts are ONE struct-min/count aggregate over
    the assignment table (`_keepers` — map-side combinable, O(1) state
    per group, no per-cluster window sort, so a skewed mode never
    makes a straggler) — nothing here scales with pair count, unlike
    similarity-join dedup. Real deployments raise k to ~sqrt(n) so
    keeper output stays small; k is a plain parameter here.

    ``assigned``: pass a precomputed `kmeans_fit` assignment
    (__id__, cluster, dist_e12) to skip the fit — the fit-once
    serve-many shape when several curation ops share one clustering.

    Output: one row per non-empty cluster —
    (cluster INT, keeper_id <id type>, n_members BIGINT,
    dist_e12 BIGINT), keeper_id being the survivor; members minus
    keepers are the semantic-duplicate candidates to drop.
    """
    if assigned is None:
        _cents, assigned = kmeans_fit(
            vectors, k, iterations, id_col=id_col, vec_col=vec_col
        )
    return _keepers(assigned).select(
        "cluster",
        F.col("__kid__").alias("keeper_id"),
        "n_members",
        F.col("keeper_dist_e12").alias("dist_e12"),
    )


def semantic_prune(
    vectors: DataFrame,
    eps_e12: int,
    k: int = 8,
    iterations: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Thresholded SemDeDup: where `semantic_dedup` keeps exactly one
    representative per cluster, this keeps the keeper PLUS every member
    farther than ``eps_e12`` (squared-L2 in e12 integer units) from its
    cluster's keeper — members inside the radius are the semantic
    duplicates being pruned, members outside carry real variation and
    survive. This is the SemDeDup paper's epsilon-dedup reduced to
    keeper-anchored form so the within-cluster cost is O(cluster size),
    not O(cluster size²).

    All arithmetic is the exact e6-quantized integer discipline of
    `kmeans_fit` (distance to the keeper is an integer zip_with fold
    over the quantized vectors), so the survivor set hash-matches the
    DuckDB replay bit-for-bit.

    100-TB shape: one struct-min aggregate for the keepers (`_keepers`
    — no per-cluster window sort, skew-proof), one k-row broadcast of
    keeper vectors, one scan-speed distance map over the members —
    nothing pairwise. ``assigned`` injects a precomputed fit (see
    `semantic_dedup`).

    Output, one row per SURVIVOR: (id, cluster INT,
    dist_keeper_e12 BIGINT, is_keeper INT 0/1).
    """
    if assigned is None:
        _cents, assigned = kmeans_fit(
            vectors, k, iterations, id_col=id_col, vec_col=vec_col
        )
    keepers = _keepers(assigned).select("cluster", "__kid__")
    q = vectors.select(F.col(id_col).alias("__id__"), V.to_e6(vec_col).alias("__v__"))
    kv = keepers.join(
        q.select(F.col("__id__").alias("__kid__"), F.col("__v__").alias("__kv__")),
        "__kid__",
    )
    j = assigned.select("__id__", "cluster").join(q, "__id__").join(
        F.broadcast(kv), "cluster"
    )
    dist_keeper = F.aggregate(
        F.zip_with("__v__", "__kv__", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        j.select(
            "__id__",
            "cluster",
            dist_keeper.alias("dist_keeper_e12"),
            (F.col("__id__") == F.col("__kid__")).cast("int").alias("is_keeper"),
        )
        .filter(
            (F.col("is_keeper") == 1)
            | (F.col("dist_keeper_e12") > F.lit(int(eps_e12)))
        )
    )


def cluster_stratified_sample(
    vectors: DataFrame,
    n_per_cluster: int,
    k: int = 8,
    iterations: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "strat",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Diversity sampling for training-mix construction: a uniform
    sample over-represents the dense regions of embedding space, so
    draw n per SEMANTIC CLUSTER instead — the cluster-balanced sample
    that keeps rare modes in the mix. Deterministic end to end: the
    clustering is `kmeans_fit`'s exact fixed-point Lloyd and the draw
    within each cluster is the smallest salted-md5 keys (the same
    rank-hash discipline as `sampling.uniform_sample_k`), so reruns —
    and the DuckDB oracle — reproduce the identical sample.

    100-TB shape: clustering cost is kmeans_fit's; the draw routes
    through `sampling.cap_per_group` — a group-keyed DISTRIBUTED rank
    (range exchange + broadcast offsets), so a hot cluster spreads
    across many tasks instead of sorting inside one window task.
    ``assigned`` injects a precomputed fit (see `semantic_dedup`).

    Output, ≤ n_per_cluster rows per non-empty cluster:
    (id, cluster INT, sample_key STRING).
    """
    from hippollm_spark.operators.sampling import cap_per_group

    if assigned is None:
        _cents, assigned = kmeans_fit(
            vectors, k, iterations, id_col=id_col, vec_col=vec_col
        )
    # cap_per_group's selection key md5(salt || '|' || id) is the
    # identical string this operator has always used, so the drawn set
    # (and the DuckDB oracle's md5-rank replay) is unchanged.
    capped = cap_per_group(
        assigned.select("__id__", "cluster"),
        "cluster",
        int(n_per_cluster),
        id_col="__id__",
        salt=salt,
    )
    key = F.md5(F.concat(F.lit(salt + "|"), F.col("__id__").cast("string")))
    return capped.select("__id__", "cluster", key.alias("sample_key"))


def pca_fit(
    vecs: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
) -> dict:
    """Distributed PCA fit via the covariance method: ONE Arrow-batched
    pass computes per-partition partials (n, Σx, XᵀX) — d + d² floats
    per partition regardless of row count — which reduce on the driver
    to the d×d covariance; eigendecomposition of a 64×64 matrix is a
    driver-side numpy call. This is the scale shape: the data never
    moves, only KB-sized moment matrices do.

    Determinism: eigenvectors are sign-normalized (largest-|coord|
    positive) and ordered by descending eigenvalue with index
    tie-break; float partial sums make the last-ulp partition-order
    dependent, so PCA is recall-grade (rows-only driver check), like
    the other float matmul paths in this module.

    Returns {"mean": (d,), "components": (k, d) rows = top PCs,
    "explained_variance": (k,), "explained_ratio": (k,)}.
    """
    schema = "n long, s binary, xtx binary"

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(mat)],
                    "s": [mat.sum(axis=0).tobytes()],
                    "xtx": [(mat.T @ mat).tobytes()],
                }
            )

    parts = vecs.select(vec_col).mapInPandas(_partials, schema).collect()
    if not parts:
        raise ValueError("pca_fit: empty input")
    n = sum(p["n"] for p in parts)
    s = sum(np.frombuffer(p["s"], dtype=np.float64) for p in parts)
    d = s.shape[0]
    xtx = sum(
        np.frombuffer(p["xtx"], dtype=np.float64).reshape(d, d) for p in parts
    )
    mean = s / n
    cov = (xtx - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-evals, kind="stable")[:k]
    comps = evecs[:, order].T  # (k, d)
    # sign convention: largest-|coord| of each component is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ev = evals[order]
    total = float(evals.sum())
    return {
        "mean": mean,
        "components": comps,
        "explained_variance": ev,
        "explained_ratio": ev / total if total > 0 else ev * 0.0,
    }


def pca_project(
    vecs: DataFrame,
    model: dict,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
    round_to: int | None = 6,
) -> DataFrame:
    """Project vectors onto the fitted components: (x − mean) @ compsᵀ
    as one Arrow-batched matmul; mean and components ship in the UDF
    closure (KBs). The d→k reduction is what makes downstream ANN /
    near-dup blocking cheap at 100 TB (e.g. PQ or LSH over 8 PCA dims
    instead of 64 raw ones)."""
    mean = model["mean"]
    comps = model["components"]

    @F.pandas_udf("array<double>")
    def _proj(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.zeros(0, dtype=object))
        mat = np.array(emb.tolist(), dtype=np.float64)
        out = (mat - mean) @ comps.T
        if round_to is not None:
            out = np.round(out, round_to)
        return pd.Series(list(out))

    return vecs.withColumn(out_col, _proj(F.col(vec_col)))


def knn_classify(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """kNN label propagation (weak supervision / auto-labeling): each
    query vector takes the majority label among its k exact-cosine
    nearest labeled neighbours; ties break by (count desc, label asc)
    — fully deterministic, so the whole classifier is
    oracle-replayable.

    Shape: `topk_per_query` (broadcast queries, one (query, vec, score)
    shuffle) → broadcast-join the labels onto the k·|queries| winner
    rows (never onto the corpus) → one two-stage argmax per query.
    Output: (query_id, pred_label, votes, n_neighbors).
    """
    top = topk_per_query(
        labeled,
        queries,
        k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        metric="cosine",
    )
    lab = labeled.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("__lbl__")
    )
    votes = (
        top.join(lab, "vec_id")
        .groupBy(query_id_col, "__lbl__")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("votes"), F.asc("__lbl__")
    )
    return (
        votes.withColumn("__rn__", F.row_number().over(w))
        .withColumn(
            "n_neighbors",
            F.sum("votes").over(Window.partitionBy(query_id_col)),
        )
        .filter(F.col("__rn__") == 1)
        .select(
            query_id_col,
            F.col("__lbl__").alias("pred_label"),
            "votes",
            "n_neighbors",
        )
    )


def save_ivf_index(
    spark,
    vecs: DataFrame,
    table_prefix: str,
    nlist: int = 16,
    *,
    iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Persist the IVF index: the assigned vector table BUCKETED BY
    list_id (a probe's literal ``list_id IN (...)`` filter then reads
    only the matching buckets — `SelectedBucketsCount` pruning, the
    `save_postings` discipline applied to ANN) plus a tiny
    ``<prefix>_centroids`` table (list_id, centroid) so a later
    session can probe without retraining. Returns the centroids.
    """
    from hippollm_spark.session import drop_table

    drop_table(spark, f"{table_prefix}_ivf")
    drop_table(spark, f"{table_prefix}_centroids")
    assigned, cents = ivf_build(vecs, nlist, iters=iters, seed=seed, vec_col=vec_col)
    (
        assigned.write.mode("overwrite")
        .bucketBy(max(nlist, 1), "list_id")
        .sortBy("list_id")
        .saveAsTable(f"{table_prefix}_ivf")
    )
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(cents)
    ]
    spark.createDataFrame(
        cent_rows, "list_id int, centroid array<double>"
    ).write.mode("overwrite").saveAsTable(f"{table_prefix}_centroids")
    return cents


def save_ivfpq_index(
    spark,
    vecs: DataFrame,
    table_prefix: str,
    coarse_e6: np.ndarray,
    codebooks_e6: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVFADC codes table: (list_id INT, id, pq_code BINARY
    of m bytes) BUCKETED BY list_id — the at-rest form of
    `ivfpq_scan_quantized`, whose fused encode is the single-query
    serving shape. At 100 TB the codes table is the only thing a probe
    reads: m bytes/vector, bucket-pruned to nprobe/nlist
    (`SelectedBucketsCount`), float vectors never touched. Encoding is
    the same exact-int64 arithmetic as the fused scan, so
    `ivfpq_topk_indexed` reproduces it bit-for-bit."""
    from hippollm_spark.session import drop_table

    cents = np.asarray(coarse_e6, dtype=np.int64)
    cb = np.asarray(codebooks_e6, dtype=np.int64)
    nlist = cents.shape[0]
    drop_table(spark, f"{table_prefix}_pqcodes")

    quant = vecs.select(F.col(id_col), V.to_e6(vec_col).alias("__v__"))

    @F.pandas_udf("struct<list_id:int, pq_code:binary>")
    def _enc(ve: pd.Series) -> pd.DataFrame:
        if len(ve) == 0:
            return pd.DataFrame({"list_id": [], "pq_code": []})
        mat = np.array(ve.tolist(), dtype=np.int64)
        assign = _nearest(mat, cents).astype(np.int32)
        codes = np.empty((len(mat), cb.shape[0]), dtype=np.uint8)
        for l in np.unique(assign):
            mask = assign == l
            codes[mask] = _pq_codes(mat[mask] - cents[l], cb)
        return pd.DataFrame(
            {"list_id": assign, "pq_code": [c.tobytes() for c in codes]}
        )

    out = quant.select(id_col, _enc(F.col("__v__")).alias("__e__")).select(
        F.col("__e__.list_id").alias("list_id"),
        F.col(id_col),
        F.col("__e__.pq_code").alias("pq_code"),
    )
    (
        out.write.mode("overwrite")
        .bucketBy(max(nlist, 1), "list_id")
        .sortBy("list_id")
        .saveAsTable(f"{table_prefix}_pqcodes")
    )


def save_ivf_index_e6(
    spark,
    vecs: DataFrame,
    table_prefix: str,
    coarse_e6: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a FULL-VECTOR IVF index assigned against FROZEN e6
    coarse centroids (round 11): every input column plus ``list_id``
    (exact-int64 argmin over the persisted centroids — same quantize +
    tie-break as `save_ivfpq_index`, so a SQL replay from the same
    literals reproduces the assignment bit-for-bit), bucketed by
    list_id. Unlike `save_ivf_index` (which trains float centroids),
    this is the serving shape for an index whose coarse quantizer was
    trained once and shipped as an artifact: rebuilds are
    deterministic, and an exact-scoring probe (`ivf_topk_indexed_e6`)
    reads only nprobe/nlist buckets of full vectors."""
    from hippollm_spark.session import drop_table

    cents = np.asarray(coarse_e6, dtype=np.int64)
    nlist = cents.shape[0]
    drop_table(spark, f"{table_prefix}_ivf")

    @F.pandas_udf("int")
    def _assign(ve: pd.Series) -> pd.Series:
        if len(ve) == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        mat = np.array(ve.tolist(), dtype=np.int64)
        # ties go to the LOWEST list, matching the oracle's
        # row_number(ORDER BY dist, l)
        return pd.Series(_nearest(mat, cents).astype(np.int32))

    (
        vecs.withColumn("list_id", _assign(V.to_e6(vec_col)))
        .write.mode("overwrite")
        .bucketBy(max(nlist, 1), "list_id")
        .sortBy("list_id")
        .saveAsTable(f"{table_prefix}_ivf")
    )


def ivf_topk_indexed_e6(
    spark,
    table_prefix: str,
    coarse_e6: np.ndarray,
    query_e6: Sequence[int],
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-scoring probe of a `save_ivf_index_e6` table: probe
    selection is a driver-side exact-int64 argsort over the frozen
    centroids (stable — ties to the lowest list, the oracle's
    tie-break), the scan carries a LITERAL isin on list_id (bucket
    pruning: nprobe/nlist of the index read), and only the probed
    lists' FULL vectors are scored with the exact float L2 the brute
    path uses — the IVF-pruned twin of `knn.knn` whose only loss is
    coarse-quantizer recall, not distance distortion."""
    probe = _probe_lists(
        np.asarray(coarse_e6, dtype=np.int64),
        np.asarray(list(query_e6), dtype=np.int64),
        nprobe,
    )
    return _probe_exact_l2(
        spark.table(f"{table_prefix}_ivf"), probe, query_vec, k, id_col, vec_col
    )


def ivfpq_topk_indexed(
    spark,
    table_prefix: str,
    coarse_e6: np.ndarray,
    codebooks_e6: np.ndarray,
    query_e6: Sequence[int],
    k: int = 10,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVFADC codes table: driver picks the nprobe
    nearest lists in exact ints, the scan carries a LITERAL
    ``list_id IN (...)`` so bucket pruning reads only those buckets'
    m-byte codes, and a pandas pass gathers per-list integer LUTs —
    bit-identical output to `ivfpq_scan_quantized` at the same nprobe
    (parity-tested), minus the encode cost: the repeat-query operating
    point."""
    _cents, cb, luts = _ivfpq_probe(coarse_e6, codebooks_e6, query_e6, nprobe)
    m = cb.shape[0]
    pruned = spark.table(f"{table_prefix}_pqcodes").filter(
        F.col("list_id").isin(list(luts))
    )

    @F.pandas_udf("long")
    def _dist(list_id: pd.Series, code: pd.Series) -> pd.Series:
        if len(code) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        arr = np.frombuffer(b"".join(code.tolist()), dtype=np.uint8).reshape(-1, m)
        ls = list_id.to_numpy()
        out = np.zeros(len(arr), dtype=np.int64)
        for l in np.unique(ls):
            mask = ls == l
            out[mask] = _adc(luts[int(l)], arr[mask])
        return pd.Series(out)

    return (
        pruned.withColumn("dist_e12", _dist(F.col("list_id"), F.col("pq_code")))
        .orderBy(F.asc("dist_e12"), F.asc(id_col))
        .limit(k)
        .select(id_col, "dist_e12")
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin_threshold: float | None = None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, 2019): pair each
    source embedding with its nearest target, scored by the RATIO
    margin — cosine divided by the average of both sides' mean
    top-k cosines — which cancels hubness (a target that is close to
    everything gets a high denominator and stops winning every pair).
    The mining step behind parallel-corpus construction for
    translation training data.

    Determinism discipline: cosines are rounded to 6dp FIRST; the
    top-k means sum those rounded scores as exact DECIMAL and divide
    by the actual neighbor count; mean and margin quotients are then
    FLOORED at 6dp, not rounded — both engines divide identical
    doubles, and floor of an identical double is identical, whereas
    round() differs at .xxxxxx5 boundaries (Spark rounds the decimal
    string HALF_UP, DuckDB rounds the binary value; observed on 1 of
    200 pairs at sf0.1).

    Scale shape: this is the exact baseline — one scores-only
    crossJoin (ids + 6dp scores in the shuffle, never vectors), two
    per-side top-k windows (partitioned by the respective id — fully
    parallel), and a broadcast-sized join of per-id means back onto
    the best-pair set. At corpus scale, generate candidates with the
    IVF/SRP buckets (`VecIndex` / `srp_signature`) and feed
    only bucket-mates through the same margin arithmetic.

    Output: (src_id, tgt_id, score, margin) — one row per source with
    a non-empty target side, optionally filtered to
    ``margin >= margin_threshold``. The ratio margin assumes positive
    top-k mean cosines (Artetxe & Schwenk mine with normalized
    embeddings where neighbors satisfy that); when the denominator
    (mean_s+mean_t)/2 is zero or negative — orthogonal/antipodal
    top-k neighborhoods — the ratio is meaningless (zero divides to
    NULL, negative flips the ranking), so margin is explicitly NULL
    there, and NULL never passes ``margin_threshold``.
    """
    # Spread the probe side before the crossJoin: the cosine fold is an
    # interpreted HOF (no codegen), and a single-split source serializes
    # the whole |S|×|T| scoring onto one core (r12 profile: three
    # concurrent 1.5 s single-task stages owned bitext_margin).
    s = plan.spread(
        src.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("__sv__"))
    )
    t = tgt.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("__tv__"))
    scores = (
        s.crossJoin(t)
        .select(
            "src_id",
            "tgt_id",
            F.round(
                V.cosine_similarity(F.col("__sv__"), F.col("__tv__")), 6
            ).alias("score"),
        )
    )
    w_s = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("tgt_id"))
    w_t = Window.partitionBy("tgt_id").orderBy(F.desc("score"), F.asc("src_id"))
    # ranked feeds THREE consumers (best-pair selection, mean_s,
    # mean_t): without a barrier each re-runs the interpreted-cosine
    # crossJoin from the leaf (guide §2.4 — don't compute three times).
    # The materialized frame is (ids, score, two ranks) — tiny relative
    # to the scoring work it saves.
    ranked = plan.barrier(
        scores.withColumn("__rs__", F.row_number().over(w_s)).withColumn(
            "__rt__", F.row_number().over(w_t)
        )
    )
    mean_s = (
        ranked.filter(F.col("__rs__") <= k)
        .groupBy("src_id")
        .agg(
            (
                F.floor(
                    F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                    / F.count("*")
                    * 1_000_000
                )
                / 1_000_000
            ).alias("__ms__")
        )
    )
    mean_t = (
        ranked.filter(F.col("__rt__") <= k)
        .groupBy("tgt_id")
        .agg(
            (
                F.floor(
                    F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                    / F.count("*")
                    * 1_000_000
                )
                / 1_000_000
            ).alias("__mt__")
        )
    )
    best = ranked.filter(F.col("__rs__") == 1).select("src_id", "tgt_id", "score")
    out = (
        best.join(mean_s, "src_id")
        .join(mean_t, "tgt_id")
        .withColumn("__denom__", (F.col("__ms__") + F.col("__mt__")) / 2.0)
        .withColumn(
            "margin",
            F.when(
                F.col("__denom__") > 0,
                F.floor(F.col("score") / F.col("__denom__") * 1_000_000)
                / 1_000_000,
            ),
        )
        .select("src_id", "tgt_id", "score", "margin")
    )
    if margin_threshold is not None:
        out = out.filter(F.col("margin") >= margin_threshold)
    return out
