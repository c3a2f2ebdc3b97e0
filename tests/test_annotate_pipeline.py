"""End-to-end annotation pipeline test with deterministic scripted
models — the Spark analogue of the reference's gated integration test
(reference tests/test_annotator.py:10-12), runnable in CI because the
models are fakes (FIXTURES.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hippollm_spark.fixtures import DIM, paris_store
from hippollm_spark.pipelines.annotate import AnnotateConfig, annotate_documents
from hippollm_spark.pipelines.backends import ScriptedLLM, ScriptedNLI
from hippollm_spark.store import HippoStore
import functools

from hippollm_spark.testing import hash_embedding, hash_embedding_udf

CHUNK1 = "Paris is in France. The Eiffel Tower stands there."
CHUNK2 = "The Seine flows through the city."
DOC = CHUNK1 + "\n\n" + CHUNK2

LLM_SCRIPT = {
    # contextualization (C1 prelude)
    "Summarize in one sentence": "A document about Paris. More stuff.",
    # fact extraction per chunk (C2)
    CHUNK1: "- France's capital is Paris\n- The Eiffel Tower is in Paris",
    CHUNK2: "- The Seine flows through Paris",
    # reformulation = identity for this scenario (C5)
    "Statement: France's capital is Paris": "France's capital is Paris",
    "Statement: The Eiffel Tower is in Paris": "The Eiffel Tower is in Paris",
    "Statement: The Seine flows through Paris": "The Seine flows through Paris",
    # dedup confrontation: the known duplicate says Yes (C3)
    "A: Paris is the capital of France\nB: France's capital is Paris": "Yes",
    # entity extraction (C4)
    "Fact: The Eiffel Tower is in Paris": "- Eiffel Tower\n- Paris",
    "Fact: The Seine flows through Paris": "- Seine\n- Paris",
}

NLI_TABLE = {
    ("Paris is the capital of France", "France's capital is Paris"): 0.9,
}


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


def test_annotate_end_to_end(spark, seeded_store):
    docs = spark.createDataFrame(
        [(100, "Paris article", "http://wiki/paris", DOC, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    llm = ScriptedLLM(script=LLM_SCRIPT)
    nli = ScriptedNLI(table=NLI_TABLE)
    cfg = AnnotateConfig(splitter="paragraph", embed_dim=DIM)

    store = annotate_documents(
        seeded_store, docs, llm, nli, hash_embedding_udf(DIM), cfg
    )

    # The duplicate ("France's capital is Paris" ≡ stored fact 0) is
    # dropped; two fresh facts appended with dense ids 2, 3.
    facts = {r["id"]: r for r in store.facts.collect()}
    assert sorted(facts) == [0, 1, 2, 3]
    # ids follow (doc, chunk, bullet) order
    assert {i: r["text"] for i, r in facts.items()} == {
        0: "Paris is the capital of France",
        1: "London is the capital of the UK",
        2: "The Eiffel Tower is in Paris",
        3: "The Seine flows through Paris",
    }
    texts = {r["text"] for r in facts.values()}
    assert "The Eiffel Tower is in Paris" in texts
    assert "The Seine flows through Paris" in texts
    assert "France's capital is Paris" not in texts

    # New entities created for unseen mentions; 'Paris' resolved to the
    # existing entity, not duplicated.
    names = sorted(r["name"] for r in store.entities.collect())
    assert names == ["Eiffel Tower", "France", "London", "Paris", "Seine", "UK"]

    # Hyperedges of the new facts point at canonical entity names.
    new_fact_entities = {
        r["text"]: sorted(r["entities"]) for r in facts.values() if r["id"] >= 2
    }
    assert new_fact_entities["The Eiffel Tower is in Paris"] == ["Eiffel Tower", "Paris"]
    assert new_fact_entities["The Seine flows through Paris"] == ["Paris", "Seine"]

    # Provenance: source struct carries the chunk span within the doc.
    eiffel = next(r for r in facts.values() if r["text"].startswith("The Eiffel"))
    src = eiffel["sources"][0]
    assert src["name"] == "Paris article" and src["url"] == "http://wiki/paris"
    assert src["pos_start"] == 0 and src["pos_end"] == len(CHUNK1)

    # Embeddings present on everything that was appended (integrity P7).
    rep = store.check_integrity()
    assert rep["ok"] == 1


def test_annotate_stores_the_embedding_it_computed(spark):
    """add_facts keeps the embedding annotate computed once: a store
    built without ``embed`` still gets every new fact's vector, so the
    next batch's dedup can see it."""
    t = paris_store(spark)
    store = HippoStore(spark, entities=t["entities"], facts=t["facts"], dim=DIM)
    docs = spark.createDataFrame(
        [(1, "t", "u", CHUNK2, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    annotate_documents(
        store, docs, ScriptedLLM(script=LLM_SCRIPT), ScriptedNLI(),
        hash_embedding_udf(DIM), AnnotateConfig(splitter="paragraph", embed_dim=DIM),
    )
    new = store.facts.filter("id >= 2").collect()
    assert [r["text"] for r in new] == ["The Seine flows through Paris"]
    for r in new:
        want = [float(np.float32(x)) for x in hash_embedding(r["text"], DIM)]
        assert r["embedding"] == want


def test_annotate_runs_each_model_stage_once(spark, seeded_store):
    """Every LLM stage is called once per input row: a stage whose
    output several plans read must be materialized, not re-run. Two
    docs, three chunks, four raw facts; one fact restates a stored
    fact, so three are fresh."""
    from hippollm_spark.testing import CountingLLM

    docs = spark.createDataFrame(
        [
            (100, "Paris article", "http://wiki/paris", DOC, None),
            (101, "Seine article", "http://wiki/seine", CHUNK2, None),
        ],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    llm = CountingLLM(spark, ScriptedLLM(script=LLM_SCRIPT))
    n_before = seeded_store.facts.count()
    store = annotate_documents(
        seeded_store, docs, llm, ScriptedNLI(table=NLI_TABLE),
        hash_embedding_udf(DIM), AnnotateConfig(splitter="paragraph", embed_dim=DIM),
    )
    fresh = store.facts.count() - n_before
    assert fresh == 3
    calls = llm.counts()
    assert calls["CONTEXTUALIZATION"] == 2  # docs
    assert calls["ANNOTATION"] == 3  # chunks
    assert calls["REFORMULATION"] == 4  # non-empty raw facts
    assert calls["ENTITY_EXTRACTION"] == fresh


def test_annotate_empty_store_bootstrap(spark):
    """Annotating into an empty store: no dedup candidates, every
    mention creates an entity."""
    empty = HippoStore(spark, embed=hash_embedding_udf(DIM), dim=DIM)
    docs = spark.createDataFrame(
        [(1, "t", "u", CHUNK2, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    llm = ScriptedLLM(script=LLM_SCRIPT)
    store = annotate_documents(
        empty, docs, llm, ScriptedNLI(), hash_embedding_udf(DIM),
        AnnotateConfig(splitter="paragraph", embed_dim=DIM),
    )
    assert store.facts.count() == 1
    assert sorted(r["name"] for r in store.entities.collect()) == ["Paris", "Seine"]
    assert store.facts.first()["id"] == 0


def test_annotate_inference_partitions_invariant(spark):
    """Spreading the LLM stages over explicit partitions (the AQE
    counter-measure for expensive per-row inference) must not change any
    result — partitioning is physical, the pipeline is deterministic."""
    empty = HippoStore(spark, embed=hash_embedding_udf(DIM), dim=DIM)
    docs = spark.createDataFrame(
        [(1, "t", "u", CHUNK2, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    store = annotate_documents(
        empty, docs, ScriptedLLM(script=LLM_SCRIPT), ScriptedNLI(),
        hash_embedding_udf(DIM),
        AnnotateConfig(splitter="paragraph", embed_dim=DIM,
                       inference_partitions=4),
    )
    assert store.facts.count() == 1
    assert sorted(r["name"] for r in store.entities.collect()) == ["Paris", "Seine"]


class _CountingNLI:
    """ScriptedNLI wrapper that tallies gated pairs to a shared-FS file
    (executors are separate processes — object state doesn't come
    back; local-mode temp files do)."""

    def __init__(self, path: str):
        self.path = path

    def score_pairs(self, pairs):
        with open(self.path, "a") as f:
            f.write(f"{len(pairs)}\n")
        return [None for _ in pairs]

    def detect_entailment(self, premise, hypothesis):  # pragma: no cover
        return False


def test_dedup_facts_candidate_pairs_bounded_by_k(spark, tmp_path):
    """The intra-batch candidate set is the kNN top-k, not an
    all-earlier-ordinals crossJoin: n facts with k=2 must gate at most
    n*k pairs (the quadratic form would gate n(n-1)/2)."""
    from hippollm_spark.pipelines.annotate import dedup_facts
    from hippollm_spark.store import HippoStore
    from hippollm_spark.testing import PairCountingNLI

    n, k = 14, 2
    facts = spark.createDataFrame(
        [(i, f"distinct scripted fact number {i}") for i in range(1, n + 1)],
        "__ord__ long, fact_text string",
    )
    counter = tmp_path / "pairs.txt"
    store = HippoStore(spark, embed=hash_embedding_udf(DIM), dim=DIM)
    out = dedup_facts(
        facts, store, ScriptedLLM(), PairCountingNLI(str(counter)),
        hash_embedding_udf(DIM), k=k,
    )
    assert out.filter("redundant").count() == 0  # NLI never entails
    total = sum(int(x) for x in counter.read_text().split())
    assert 0 < total <= n * k, total


def test_annotate_semantic_splitter_strategy(spark):
    """T6 covers the reference's fourth strategy (splitters.py:122-135):
    splitter='semantic' routes chunking through the embedding-breakpoint
    splitter with the config-supplied executor-local embedder."""
    from hippollm_spark.pipelines.annotate import get_splitter

    empty = HippoStore(spark, embed=hash_embedding_udf(DIM), dim=DIM)
    docs = spark.createDataFrame(
        [(1, "t", "u", CHUNK2, None)],
        "doc_id long, title string, url string, content string, date timestamp",
    )
    store = annotate_documents(
        empty, docs, ScriptedLLM(script=LLM_SCRIPT), ScriptedNLI(),
        hash_embedding_udf(DIM),
        AnnotateConfig(splitter="semantic", embed_dim=DIM,
                       # partial of a library function: pickles by
                       # reference to hippollm_spark.testing, which
                       # executors CAN import (test modules they can't)
                       semantic_embed_fn=functools.partial(hash_embedding, dim=16)),
    )
    assert store.facts.count() == 1
    assert sorted(r["name"] for r in store.entities.collect()) == ["Paris", "Seine"]

    import pytest as _pytest

    with _pytest.raises(KeyError):
        get_splitter("nope")
    with _pytest.raises(ValueError, match="semantic_embed_fn"):
        annotate_documents(
            empty, docs, ScriptedLLM(script=LLM_SCRIPT), ScriptedNLI(),
            hash_embedding_udf(DIM),
            AnnotateConfig(splitter="semantic", embed_dim=DIM),
        )
