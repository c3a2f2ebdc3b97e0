"""Exact k-nearest-neighbour operators (reference V2-V6).

The reference serves kNN from a ChromaDB HNSW index (reference
storage.py:255-337). Our semantic baseline is *exact* brute-force kNN:

- score = L2 distance (ChromaDB 0.4.24 default, unnormalized vectors),
- ascending order,
- deterministic tie-break on the id column (HNSW leaves ties
  unspecified; we pin them so results hash-match the oracle).

Physical plan: Project (codegen'd distance expression) → global top-k.
``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject`` —
partition-local top-k heaps merged on the driver, **no shuffle** — which
is exactly the plan we want at 100 TB: one scan, no data movement beyond
k rows per partition.

Scoring stays inside whole-stage codegen. ANN (LSH / IVF partition
pruning) lives in ``operators.similarity``; it is benchmarked by recall
against this exact operator, never by hash.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hippollm_spark.functions import vectors as V


def knn(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "id",
    metric: str = "l2",
    keep_distance: bool = True,
) -> DataFrame:
    """Exact top-k rows of ``df`` nearest to ``query_vec``.

    Deterministic ordering ``(distance, id_col)``; distance computed in
    double precision. k is naturally clamped to the row count by
    ``limit`` (reference storage.py:269 clamps explicitly).
    """
    if metric == "l2":
        scored = df.withColumn("distance", V.l2_distance(vec_col, query_vec))
    elif metric == "cosine":
        scored = df.withColumn("distance", V.cosine_distance(vec_col, query_vec))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    out = scored.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)
    return out if keep_distance else out.drop("distance")


def knn_entities(
    entities: DataFrame, query_vec: Sequence[float], k: int = 5, **kw
) -> DataFrame:
    """V2 — closest entities (reference storage.py:255-264; default k=5)."""
    return knn(entities, query_vec, k, id_col="name", **kw)


def knn_facts(facts: DataFrame, query_vec: Sequence[float], k: int = 5, **kw) -> DataFrame:
    """V3 — closest facts (reference storage.py:266-276)."""
    return knn(facts, query_vec, k, id_col="id", **kw)


def knn_facts_with_ids(
    facts: DataFrame,
    query_vec: Sequence[float],
    candidate_ids: DataFrame,
    k: int = 5,
    *,
    id_col: str = "id",
    collect_max: int = 100_000,
    **kw,
) -> DataFrame:
    """V4 — kNN restricted to a candidate id set (reference
    storage.py:304-323).

    Preserves the reference's degenerate rule exactly: when
    k > |candidates| (STRICT — reference storage.py:308-309 reads
    ``if k > len(ids)``) the whole candidate set is returned
    **unranked** — no distance column, no ordering guarantee. At
    exactly k == |candidates| the reference still runs the vector
    search and returns all candidates RANKED with real distances, so
    we do too.

    The degenerate guard needs |candidates| on the driver either way
    (it decides the OUTPUT SCHEMA, so it cannot move into the plan).
    The old shape paid for the candidate pipeline twice: a ``count()``
    job for the guard, then the whole pipeline AGAIN as the broadcast
    build side of the semi-join (a broadcast collects to the driver
    anyway). Collect the ids once and filter with a literal IN-set
    instead: one execution of the candidate pipeline, and the main job
    carries no broadcast build (guide §1.2/§2.4 — don't compute things
    twice). Past ``max(collect_max, k)`` ids the candidates stay a
    broadcast semi-join: the probe's overflow already proves
    |candidates| > k, so the guard needs no count and the candidate
    pipeline runs twice, not three times (the guard stays cheap
    because the reference's candidate sets are entity adjacencies,
    i.e. small).
    """
    cand_col = candidate_ids.columns[0]
    cands = candidate_ids.withColumnRenamed(cand_col, id_col).distinct()
    cap = max(collect_max, k)
    rows = cands.limit(cap + 1).collect()
    if len(rows) > cap:
        filtered = facts.join(F.broadcast(cands), on=id_col, how="semi")
    else:
        # Rebuild the (already distinct) candidate set as a LOCAL
        # relation and semi-join against that: identical survivors, but
        # the main job no longer re-executes the candidate pipeline as
        # its broadcast build side. NOT an `isin` literal list — a
        # thousand-element IN expression sent v5's optimizer time
        # through the roof (measured 2.0 s → 12.2 s: per-rule passes
        # over the giant predicate), while a LocalRelation build side
        # is opaque to expression rules and broadcast-hashes as usual.
        local = facts.sparkSession.createDataFrame(
            rows, schema=cands.schema
        )
        filtered = facts.join(F.broadcast(local), on=id_col, how="semi")
        if k > len(rows):
            return filtered
    return knn(filtered, query_vec, k, id_col=id_col, **kw)


def knn_facts_with_entities_union(
    facts: DataFrame,
    edges: DataFrame,
    query_vec: Sequence[float],
    entity_names: Sequence[str],
    k: int = 5,
    **kw,
) -> DataFrame:
    """V5 — closest facts touching ANY of the entities (reference
    storage.py:325-330 over the P4 union candidate set)."""
    from hippollm_spark.operators.relational import fact_ids_by_entities_union

    ids = fact_ids_by_entities_union(edges, entity_names)
    return knn_facts_with_ids(facts, query_vec, ids, k, **kw)


def knn_facts_with_entities_intersection(
    facts: DataFrame,
    edges: DataFrame,
    query_vec: Sequence[float],
    entity_names: Sequence[str],
    k: int = 5,
    **kw,
) -> DataFrame:
    """V6 — closest facts touching ALL of the entities (reference
    storage.py:332-337 over the P5 intersection candidate set)."""
    from hippollm_spark.operators.relational import fact_ids_by_entities_intersection

    ids = fact_ids_by_entities_intersection(edges, entity_names)
    return knn_facts_with_ids(facts, query_vec, ids, k, **kw)
