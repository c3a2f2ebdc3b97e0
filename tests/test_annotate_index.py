"""ANN-index-backed candidate generation for the annotate write-path
(C3 dedup / C4 linking): the batched IVF probe must (a) reproduce the
exact candidate set when it probes every list, (b) keep usable recall
when it prunes, and (c) produce a plan with NO batch x store crossJoin
— the reference queries its HNSW index per fact (storage.py:124-133,
annotator.py:126-145,158); this is the Spark analogue."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hippollm_spark.fixtures import DIM, paris_store
from hippollm_spark.operators.similarity import (
    VecIndex,
    ivf_topk_per_query,
    topk_per_query,
)
from hippollm_spark.pipelines.annotate import (
    AnnotateConfig,
    annotate_documents,
    dedup_facts,
    resolve_entities,
)
from hippollm_spark.pipelines.backends import ScriptedLLM, ScriptedNLI
from hippollm_spark.store import HippoStore
from hippollm_spark.testing import hash_embedding, hash_embedding_udf

from tests.test_annotate_pipeline import DOC, LLM_SCRIPT, NLI_TABLE


def _vec_table(spark, n=60, dim=8, clusters=4):
    """Deterministic clustered vectors: cluster c centred at 10*c on
    every axis, point i offset by small per-coordinate jitter."""
    rows = []
    for i in range(n):
        c = i % clusters
        rows.append(
            (i, [10.0 * c + ((i * 7 + j * 3) % 5) * 0.1 for j in range(dim)])
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(spark, vecs, ids):
    return (
        vecs.filter(F.col("vec_id").isin(ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )


def test_ivf_probe_full_width_matches_exact(spark):
    vecs = _vec_table(spark)
    qs = _queries(spark, vecs, [0, 1, 2, 3]).cache()
    idx = VecIndex.build(vecs, nlist=4, nprobe=4)
    exact = topk_per_query(vecs, qs, k=5, metric="l2")
    probed = idx.topk(qs, k=5, metric="l2")
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, probed.collect())
    )


def test_ivf_probe_pruned_recall(spark):
    vecs = _vec_table(spark, n=120, clusters=6)
    qs = _queries(spark, vecs, [0, 7, 20, 33]).cache()
    exact = topk_per_query(vecs, qs, k=5, metric="l2")
    idx = VecIndex.build(vecs, nlist=6, nprobe=2)
    probed = idx.topk(qs, k=5, metric="l2")
    truth = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in probed.collect()}
    recall = len(truth & got) / len(truth)
    # clusters are 10 apart, jitter 0.4: a query's true neighbours live
    # in its own cluster, which nprobe=2 always covers
    assert recall >= 0.9, recall


def test_ivf_probe_plan_has_no_store_crossjoin(spark):
    vecs = _vec_table(spark)
    qs = _queries(spark, vecs, [0, 1])
    idx = VecIndex.build(vecs, nlist=4, nprobe=2)
    plan = idx.topk(qs, k=3, metric="l2")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # literal pruning on the probed inverted lists reaches the store scan
    assert "list_id" in plan


@pytest.fixture()
def seeded_store(spark):
    t = paris_store(spark)
    return HippoStore(
        spark,
        entities=t["entities"],
        facts=t["facts"],
        embed=hash_embedding_udf(DIM),
        dim=DIM,
    )


def _batch_facts(spark):
    texts = [
        "France's capital is Paris",        # duplicate of stored fact 0
        "The Eiffel Tower is in Paris",
        "The Seine flows through Paris",
    ]
    return spark.createDataFrame(
        list(enumerate(texts, 1)), "__ord__ long, fact_text string"
    )


def _dedup_verdicts(df):
    return sorted(
        (r["__ord__"], r["redundant"], r["dup_of"], r["dup_of_ord"])
        for r in df.collect()
    )


def test_dedup_facts_indexed_matches_exact(spark, seeded_store):
    llm = ScriptedLLM(script=LLM_SCRIPT)
    nli = ScriptedNLI(table=NLI_TABLE)
    facts = _batch_facts(spark)
    exact = dedup_facts(
        facts, seeded_store, llm, nli, hash_embedding_udf(DIM), k=5
    )
    idx = VecIndex.build(
        seeded_store.facts.select("id", "embedding"),
        nlist=2,
        nprobe=2,  # full probe -> exact candidates
        id_col="id",
    )
    indexed = dedup_facts(
        facts, seeded_store, llm, nli, hash_embedding_udf(DIM), k=5, index=idx
    )
    assert _dedup_verdicts(exact) == _dedup_verdicts(indexed)
    assert _dedup_verdicts(indexed)[0][1] is True  # known dup still caught


def test_resolve_entities_indexed_matches_exact(spark, seeded_store):
    llm = ScriptedLLM(script=LLM_SCRIPT)
    nli = ScriptedNLI()
    mentions = spark.createDataFrame(
        [(1, "Paris"), (1, "Eiffel Tower"), (2, "Seine")],
        "__ord__ long, entity_mention string",
    )
    exact = resolve_entities(
        mentions, seeded_store, llm, nli, hash_embedding_udf(DIM), k=10
    )
    idx = VecIndex.build(
        seeded_store.entities.select("name", "embedding"),
        nlist=2,
        nprobe=2,
        id_col="name",
    )
    indexed = resolve_entities(
        mentions, seeded_store, llm, nli, hash_embedding_udf(DIM), k=10, index=idx
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, indexed.collect())
    )


def test_annotate_end_to_end_with_indexes(spark, seeded_store):
    """Full pipeline with IVF candidate generation (full-width probe)
    reproduces the exact-path e2e outcome on the fixture store."""
    docs = spark.createDataFrame(
        [(100, "Paris article", "http://wiki/paris", DOC, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    seeded_store.build_vector_indexes(nlist=2, nprobe=2)
    assert seeded_store.fact_index is not None
    assert seeded_store.entity_index is not None
    store = annotate_documents(
        seeded_store,
        docs,
        ScriptedLLM(script=LLM_SCRIPT),
        ScriptedNLI(table=NLI_TABLE),
        hash_embedding_udf(DIM),
        AnnotateConfig(splitter="paragraph", embed_dim=DIM),
    )
    texts = {r["text"] for r in store.facts.collect()}
    assert "France's capital is Paris" not in texts  # dedup via the index
    assert "The Eiffel Tower is in Paris" in texts
    names = sorted(r["name"] for r in store.entities.collect())
    assert names == ["Eiffel Tower", "France", "London", "Paris", "Seine", "UK"]


def test_vecindex_from_persisted_table_matches_build(spark):
    """save_ivf_index -> VecIndex.from_table probes the bucketed store
    tables and returns the same top-k as the in-memory build (same
    nlist/seed => same centroids => same lists)."""
    from hippollm_spark.operators.similarity import save_ivf_index

    vecs = _vec_table(spark, n=80, clusters=4)
    qs = _queries(spark, vecs, [0, 5, 10]).cache()
    save_ivf_index(spark, vecs, "annidx_t", nlist=4)
    mem = VecIndex.build(vecs, nlist=4, nprobe=2)
    disk = VecIndex.from_table(spark, "annidx_t", nprobe=2)
    assert sorted(map(tuple, mem.topk(qs, k=5, metric="l2").collect())) == sorted(
        map(tuple, disk.topk(qs, k=5, metric="l2").collect())
    )


def test_annotate_defaults_to_store_indexes_without_flag(spark, seeded_store, monkeypatch):
    """An indexed store (build_vector_indexes) routes C3/C4 candidate
    generation through its own IVF handles with NO flag at the call
    site — the reference's candidates are always index-served
    (storage.py:124-133). Verified by spying on VecIndex.topk (a
    driver-side plan builder) and by the e2e outcome matching the
    explicit-index run."""
    docs = spark.createDataFrame(
        [(100, "Paris article", "http://wiki/paris", DOC, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    seeded_store.build_vector_indexes(nlist=2, nprobe=2)  # full probe = exact
    calls = []
    orig = VecIndex.topk

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(VecIndex, "topk", spy)
    store = annotate_documents(
        seeded_store,
        docs,
        ScriptedLLM(script=LLM_SCRIPT),
        ScriptedNLI(table=NLI_TABLE),
        hash_embedding_udf(DIM),
        AnnotateConfig(splitter="paragraph", embed_dim=DIM),
    )
    assert len(calls) >= 2, "store indexes were not used by default"
    texts = {r["text"] for r in store.facts.collect()}
    assert "France's capital is Paris" not in texts
    assert "The Eiffel Tower is in Paris" in texts
    names = sorted(r["name"] for r in store.entities.collect())
    assert names == ["Eiffel Tower", "France", "London", "Paris", "Seine", "UK"]


def test_store_indexes_invalidated_on_append(spark, seeded_store):
    """Index handles are snapshots: ANY reassignment of the backing
    frame (add_facts/add_entities or direct set) clears them, so the
    annotate auto-fallback can never probe an index that is missing
    rows appended after the build — it falls back to the exact scan
    instead (the staleness hazard flagged in round-6 advice)."""
    seeded_store.build_vector_indexes(nlist=2, nprobe=2)
    assert seeded_store.fact_index is not None
    assert seeded_store.entity_index is not None
    new_facts = spark.createDataFrame(
        [("A brand new fact", ["Paris"], [])],
        "text string, entities array<string>, sources array<struct<"
        "name:string,description:string,url:string,date:timestamp,"
        "pos_start:int,pos_end:int>>",
    )
    seeded_store.add_facts(new_facts)
    assert seeded_store.fact_index is None, "fact append must invalidate fact_index"
    assert seeded_store.entity_index is not None, "entity index untouched by fact append"
    seeded_store.add_entities(
        spark.createDataFrame([("Lyon", "a city")], "name string, description string")
    )
    assert seeded_store.entity_index is None, "entity append must invalidate entity_index"
