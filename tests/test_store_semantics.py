"""Port of the reference's storage unit tests to the Spark engine
(reference tests/test_storage.py — add/retrieve entities & facts,
adjacency, union/intersection filtered kNN incl. the k>|ids| unranked
short-circuit)."""

from __future__ import annotations

from hippollm_spark.fixtures import DIM
from hippollm_spark.operators import knn, relational
from hippollm_spark.testing import hash_embedding


def test_entity_point_lookup(store_tables):
    ents = store_tables["entities"]
    row = relational.get_entity(ents, "Paris").collect()
    assert len(row) == 1 and row[0]["description"] == "Capital of France"
    assert relational.get_entity(ents, "Atlantis").count() == 0


def test_fact_lookup_and_adjacency(store_tables):
    facts, edges = store_tables["facts"], store_tables["edges"]
    assert relational.get_fact(facts, 0).first()["text"].startswith("Paris is")
    adj = {
        (r["fact_id"], r["entity"]) for r in edges.collect()
    }
    assert adj == {(0, "Paris"), (0, "France"), (1, "London"), (1, "UK")}


def test_union_and_intersection(store_tables):
    edges = store_tables["edges"]
    union = relational.fact_ids_by_entities_union(edges, ["Paris", "London"])
    assert {r["fact_id"] for r in union.collect()} == {0, 1}
    inter = relational.fact_ids_by_entities_intersection(edges, ["Paris", "France"])
    assert {r["fact_id"] for r in inter.collect()} == {0}
    # Paris ∧ London share no fact (reference tests/test_storage.py:99-102)
    inter2 = relational.fact_ids_by_entities_intersection(edges, ["Paris", "London"])
    assert inter2.count() == 0


def test_knn_facts_ordering(store_tables):
    facts = store_tables["facts"]
    q = hash_embedding("Paris is the capital of France", DIM)
    top = knn.knn_facts(facts, q, k=1).collect()
    # embeddings are stored float32 → tiny nonzero self-distance
    assert top[0]["id"] == 0 and abs(top[0]["distance"]) < 1e-4


def test_filtered_knn_short_circuit_unranked(store_tables):
    """k > |candidates| (STRICT) → all candidates returned, no distance
    column (reference storage.py:308-309 reads ``if k > len(ids)``)."""
    facts, edges = store_tables["facts"], store_tables["edges"]
    q = hash_embedding("anything", DIM)
    res = knn.knn_facts_with_entities_union(facts, edges, q, ["Paris", "London"], k=5)
    assert "distance" not in res.columns
    assert {r["id"] for r in res.collect()} == {0, 1}


def test_filtered_knn_boundary_k_equals_candidates_is_ranked(store_tables):
    """At exactly k == |candidates| the reference does NOT short-circuit
    (strict ``k > len(ids)``, storage.py:308-309): it runs the vector
    search and returns all candidates RANKED with real distances."""
    facts, edges = store_tables["facts"], store_tables["edges"]
    q = hash_embedding("London is the capital of the UK", DIM)
    # union over Paris+London yields candidates {0, 1} → k=2 boundary
    res = knn.knn_facts_with_entities_union(
        facts, edges, q, ["Paris", "London"], k=2
    )
    assert "distance" in res.columns
    rows = res.collect()
    assert [r["id"] for r in rows] == [1, 0]  # ranked: fact 1 is closest
    assert all(r["distance"] is not None for r in rows)
    assert rows[0]["distance"] <= rows[1]["distance"]


def test_filtered_knn_ranked(store_tables):
    facts, edges = store_tables["facts"], store_tables["edges"]
    q = hash_embedding("London is the capital of the UK", DIM)
    res = knn.knn_facts_with_entities_union(
        facts, edges, q, ["Paris", "London", "France", "UK"], k=1
    ).collect()
    assert len(res) == 1 and res[0]["id"] == 1


def test_intersection_knn(store_tables):
    facts, edges = store_tables["facts"], store_tables["edges"]
    q = hash_embedding("Capital", DIM)
    res = knn.knn_facts_with_entities_intersection(
        facts, edges, q, ["Paris", "France"], k=2
    )
    assert {r["id"] for r in res.collect()} == {0}


def test_filtered_knn_overflow_branch_matches_collect_path(spark):
    """Past ``max(collect_max, k)`` candidates the ids stay a broadcast
    semi-join instead of a collected local relation; both paths must
    return the same ranked rows, and a small candidate set still takes
    the unranked short circuit."""
    from hippollm_spark.schema import FACTS_SCHEMA

    texts = [f"fact {i}" for i in range(12)]
    facts = spark.createDataFrame(
        [
            (i, t, [], [], 1.0, [float(x) for x in hash_embedding(t, DIM)])
            for i, t in enumerate(texts)
        ],
        FACTS_SCHEMA,
    )
    q = hash_embedding("fact 3", DIM)
    cands = spark.createDataFrame([(i,) for i in range(10)], "fact_id long")

    def ranked(collect_max):
        out = knn.knn_facts_with_ids(facts, q, cands, k=3, collect_max=collect_max)
        return [(r["id"], r["distance"]) for r in out.collect()]

    collected = ranked(100_000)
    assert len(collected) == 3 and collected[0][0] == 3
    assert ranked(2) == collected  # 10 candidates overflow a cap of 3
    few = spark.createDataFrame([(0,), (1,)], "fact_id long")
    short = knn.knn_facts_with_ids(facts, q, few, k=3, collect_max=1)
    assert "distance" not in short.columns
    assert {r["id"] for r in short.collect()} == {0, 1}


def test_upsert_guard_and_add_entities(store_tables, spark):
    ents = store_tables["entities"]
    new = spark.createDataFrame(
        [("Paris", "dup should be skipped"), ("Berlin", "Capital of Germany")],
        "name string, description string",
    )
    fresh = relational.new_entities_only(new, ents)
    assert [r["name"] for r in fresh.collect()] == ["Berlin"]
    from hippollm_spark.testing import hash_embedding_udf

    merged = relational.add_entities(ents, new, embed=hash_embedding_udf(DIM))
    assert merged.count() == 5
    berlin = merged.filter("name = 'Berlin'").first()
    assert berlin["embedding"] is not None and len(berlin["embedding"]) == DIM


def test_new_entities_only_repartition_invariant(store_tables, spark):
    """Which duplicate survives must depend only on row content, never
    on file/partition layout (the emb_quantize lesson applied to the
    last order-dependent site — VERDICT r8 'What's wrong' #3)."""
    ents = store_tables["entities"]
    rows = [
        ("Berlin", "zzz later description"),
        ("Berlin", "aaa earlier description"),
        ("Bonn", "on the Rhine"),
        ("Berlin", "mmm middle"),
    ]
    base = spark.createDataFrame(rows, "name string, description string")
    winners = set()
    for df in (
        base,
        base.repartition(7),
        base.repartition(1),
        base.coalesce(1).repartition(3, "description"),
        spark.createDataFrame(list(reversed(rows)), base.schema).repartition(5),
    ):
        out = {
            r["name"]: r["description"]
            for r in relational.new_entities_only(df, ents).collect()
        }
        assert set(out) == {"Berlin", "Bonn"}
        winners.add(out["Berlin"])
    # content-ordered tie-break: the lexicographically smallest
    # description wins, on every layout and input order
    assert winners == {"aaa earlier description"}
    # explicit sequence column = the faithful "first occurrence" rule
    seq = spark.createDataFrame(
        [(n, d, i) for i, (n, d) in enumerate(rows)],
        "name string, description string, seq long",
    )
    for df in (seq, seq.repartition(6)):
        out = {
            r["name"]: r["description"]
            for r in relational.new_entities_only(
                df, ents, order_col="seq"
            ).collect()
        }
        assert out["Berlin"] == "zzz later description"


def test_add_facts_dense_ids(store_tables, spark):
    facts = store_tables["facts"]
    new = spark.createDataFrame(
        [("Berlin is the capital of Germany", ["Berlin", "Germany"])],
        "text string, entities array<string>",
    )
    merged = relational.add_facts(facts, new)
    ids = sorted(r["id"] for r in merged.select("id").collect())
    assert ids == [0, 1, 2]


def test_prune_lone_entities(store_tables, spark):
    ents = store_tables["entities"]
    edges = store_tables["edges"]
    with_lone = ents.unionByName(
        spark.createDataFrame(
            [("Atlantis", "sunk", None)],
            ents.schema,
        )
    )
    pruned = relational.prune_lone_entities(with_lone, edges)
    assert pruned.count() == 4
    lone = relational.lone_entities(with_lone, edges)
    assert [r["name"] for r in lone.collect()] == ["Atlantis"]


def test_with_dense_ids_contiguous_under_aqe_shuffle(spark):
    """Regression: an upstream groupBy shuffle (AQE runtime-coalesced)
    must yield contiguous collision-free ids — the localCheckpoint pins
    one partitioning across the count job and the stamp job."""
    from pyspark.sql import functions as F

    from hippollm_spark.operators.relational import with_dense_ids

    for trial in range(5):
        df = (
            spark.range(0, 3000)
            .select((F.col("id") % (501 + trial)).alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
        )
        out = with_dense_ids(df, offset=10)
        ids = sorted(r["id"] for r in out.collect())
        assert ids == list(range(10, 10 + 501 + trial))


def test_get_closest_indexed_matches_exact_at_full_probe(spark):
    """V2/V3 through the optional IVF handles (reference HNSW analogue,
    storage.py:124-133): a full-width probe returns the same rows and
    distances as exact kNN; unbuilt index raises a labeled error."""
    import pytest as _pytest

    from hippollm_spark.fixtures import DIM, paris_store
    from hippollm_spark.store import HippoStore
    from hippollm_spark.testing import hash_embedding, hash_embedding_udf

    t = paris_store(spark)
    store = HippoStore(
        spark, entities=t["entities"], facts=t["facts"],
        embed=hash_embedding_udf(DIM), dim=DIM,
    )
    qv = hash_embedding("Paris (capital of France)", DIM)
    with _pytest.raises(ValueError, match="build_vector_indexes"):
        store.get_closest_entities(qv, use_index=True)
    store.build_vector_indexes(nlist=2, nprobe=2)  # full probe = exact

    exact_e = store.get_closest_entities(qv, k=3).collect()
    idx_e = store.get_closest_entities(qv, k=3, use_index=True).collect()
    assert [(r["name"], round(r["distance"], 6)) for r in exact_e] == [
        (r["name"], round(r["distance"], 6)) for r in idx_e
    ]

    exact_f = store.get_closest_facts(qv, k=2).collect()
    idx_f = store.get_closest_facts(qv, k=2, use_index=True).collect()
    assert [(r["id"], round(r["distance"], 6)) for r in exact_f] == [
        (r["id"], round(r["distance"], 6)) for r in idx_f
    ]


def test_indexed_knn_preserves_column_order(spark):
    """Regression: the indexed path used to return the join key (id)
    first while the exact path keeps the table's column order —
    positional consumers saw different layouts when toggling
    use_index. Both paths must emit table columns + distance."""
    from hippollm_spark.fixtures import DIM, paris_store
    from hippollm_spark.store import HippoStore
    from hippollm_spark.testing import hash_embedding, hash_embedding_udf

    t = paris_store(spark)
    store = HippoStore(
        spark, entities=t["entities"], facts=t["facts"],
        embed=hash_embedding_udf(DIM), dim=DIM,
    )
    store.build_vector_indexes(nlist=2, nprobe=2)
    qv = hash_embedding("Paris (capital of France)", DIM)
    assert (
        store.get_closest_entities(qv, k=3, use_index=True).columns
        == store.get_closest_entities(qv, k=3).columns
    )
    assert (
        store.get_closest_facts(qv, k=2, use_index=True).columns
        == store.get_closest_facts(qv, k=2).columns
    )


def test_new_entities_only_skips_unorderable_columns(store_tables, spark):
    """A map-typed payload column must not break the content tie-break
    (Window.orderBy throws on MapType — ADVICE r9): the guard orders
    on the orderable columns only and still dedups per name."""
    ents = store_tables["entities"]
    rows = [
        ("Berlin", "aaa", {"k": "1"}),
        ("Berlin", "zzz", {"k": "2"}),
        ("Bonn", "on the Rhine", {"k": "3"}),
    ]
    df = spark.createDataFrame(
        rows, "name string, description string, props map<string,string>"
    )
    out = {
        r["name"]: r["description"]
        for r in relational.new_entities_only(df.repartition(5), ents).collect()
    }
    assert set(out) == {"Berlin", "Bonn"}
    # deterministic via the orderable description column
    assert out["Berlin"] == "aaa"


def test_new_entities_only_all_unorderable_content_hash(store_tables, spark):
    """When EVERY non-name column is unorderable the guard must still
    be layout-independent (ADVICE r10): it falls back to a content
    hash of the row's JSON form, not a constant — so the same winner
    survives under any repartitioning or input order."""
    ents = store_tables["entities"]
    rows = [
        ("Berlin", {"k": "1", "v": "first"}),
        ("Berlin", {"k": "2", "v": "second"}),
        ("Berlin", {"k": "3", "v": "third"}),
        ("Bonn", {"k": "4"}),
    ]
    base = spark.createDataFrame(rows, "name string, props map<string,string>")
    winners = set()
    for df in (
        base,
        base.repartition(7),
        base.repartition(1),
        spark.createDataFrame(list(reversed(rows)), base.schema).repartition(5),
    ):
        out = {
            r["name"]: dict(r["props"])
            for r in relational.new_entities_only(df, ents).collect()
        }
        assert set(out) == {"Berlin", "Bonn"}
        winners.add(out["Berlin"]["k"])
    assert len(winners) == 1  # same content-hash winner on every layout
