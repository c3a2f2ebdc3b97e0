"""Connected components over the hypergraph and winnowing fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from hippollm_spark.operators.graph import connected_components


def test_connected_components_two_islands(spark):
    # island 1: A-B-C via facts 0,1; island 2: D-E via fact 2; isolated F via fact 3
    rows = [
        (0, "A"), (0, "B"),
        (1, "B"), (1, "C"),
        (2, "D"), (2, "E"),
        (3, "F"),
    ]
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    out = {r["entity"]: r["component"] for r in connected_components(edges).collect()}
    assert out["A"] == out["B"] == out["C"]
    assert out["D"] == out["E"]
    assert out["A"] != out["D"] != out["F"]
    assert out["A"] != out["F"]


def test_connected_components_chain_converges(spark):
    # long chain: e0-e1-...-e9 each adjacent pair sharing a fact —
    # needs several propagation rounds
    rows = []
    for i in range(9):
        rows += [(i, f"e{i}"), (i, f"e{i+1}")]
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    out = {r["entity"]: r["component"] for r in connected_components(edges).collect()}
    assert len(set(out.values())) == 1


def test_winnowing_fingerprints_detect_copied_span(spark):
    from hippollm_spark.operators.textstats import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, f"intro text here. {shared} trailing part one"),
            (1, f"completely different start. {shared} other ending"),
            (2, "no overlap at all with anything else whatsoever in here"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=8, window=4).cache()
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    shared_counts = {
        (r["doc_a"], r["doc_b"]): r["n"]
        for r in a.join(b, "fp")
        .filter("doc_a < doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert shared_counts.get((0, 1), 0) >= 5       # the copied span is caught
    assert shared_counts.get((0, 2), 0) <= 2       # unrelated docs barely collide
    assert shared_counts.get((1, 2), 0) <= 2


def test_winnowing_deterministic(spark):
    docs = spark.createDataFrame([(0, "some document text for hashing")], "doc_id long, text string")
    from hippollm_spark.operators.textstats import winnowing_fingerprints

    one = sorted(r["fp"] for r in winnowing_fingerprints(docs).collect())
    two = sorted(r["fp"] for r in winnowing_fingerprints(docs).collect())
    assert one == two and len(one) > 0


def _cc_map(df):
    return {r["entity"]: r["component"] for r in df.collect()}


def test_star_cc_equals_hash_min_on_islands(spark):
    rows = [
        (0, "A"), (0, "B"),
        (1, "B"), (1, "C"),
        (2, "D"), (2, "E"),
        (3, "F"),
    ]
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    from hippollm_spark.operators.graph import connected_components_star

    assert _cc_map(connected_components_star(edges)) == _cc_map(
        connected_components(edges)
    )


def test_star_cc_long_path_few_rounds(spark):
    """The topology hash-min can't afford: a 40-entity path (diameter
    39 — hash-min would need 39 rounds; the star alternation is
    logarithmic). Equality asserted against hash-min given enough
    rounds."""
    rows = []
    for i in range(39):
        rows += [(i, f"e{i:02d}"), (i, f"e{i+1:02d}")]
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    from hippollm_spark.operators.graph import connected_components_star

    star = _cc_map(connected_components_star(edges, max_rounds=12))
    assert len(set(star.values())) == 1  # one component, found in <=12 rounds
    assert star == _cc_map(connected_components(edges, max_iter=60))


def test_star_cc_random_bipartite_equality(spark):
    """Deterministic pseudo-random hypergraph: 60 entities, 45 facts,
    membership by hash arithmetic — star and hash-min must agree on
    every entity's component label."""
    rows = []
    for f in range(45):
        for k in range(2 + (f * 7) % 3):
            rows.append((f, f"ent{(f * 13 + k * 29) % 60:02d}"))
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    from hippollm_spark.operators.graph import connected_components_star

    assert _cc_map(connected_components_star(edges)) == _cc_map(
        connected_components(edges)
    )


def test_star_cc_partition_matches_python_union_find(spark):
    """Independent oracle: a driver-side union-find over the same
    hypergraph must produce the identical PARTITION of entities (labels
    aside — those are hash-engine specific and covered by the hash-min
    equality tests)."""
    rows = []
    for f in range(60):
        for k in range(1 + (f * 11) % 4):
            rows.append((f, f"n{(f * 17 + k * 23) % 80:02d}"))
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    from hippollm_spark.operators.graph import connected_components_star

    got = {r["entity"]: r["component"] for r in connected_components_star(edges).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    by_fact: dict = {}
    for f, ent in rows:
        by_fact.setdefault(f, []).append(ent)
    for members in by_fact.values():
        for m in members[1:]:
            union(members[0], m)
    expected_groups = {}
    for e in {r[1] for r in rows}:
        expected_groups.setdefault(find(e), set()).add(e)
    got_groups = {}
    for e, c in got.items():
        got_groups.setdefault(c, set()).add(e)
    assert sorted(map(sorted, expected_groups.values())) == sorted(
        map(sorted, got_groups.values())
    )


def test_star_cc_capped_exit_keeps_one_row_per_entity(spark):
    """max_rounds exhausted before the star-forest fixpoint: labels may
    be provisional (like hash-min's capped exit) but the output shape
    must stay one row per entity."""
    rows = []
    for i in range(19):
        rows += [(i, f"c{i:02d}"), (i, f"c{i+1:02d}")]
    edges = spark.createDataFrame(rows, "fact_id long, entity string")
    from hippollm_spark.operators.graph import connected_components_star

    out = connected_components_star(edges, max_rounds=1).collect()
    ents = [r["entity"] for r in out]
    assert len(ents) == len(set(ents)) == 20


def test_iterative_graph_ops_release_cache_pins(spark):
    """Regression: the loop-invariant .cache() pins in the iterative
    graph ops were never unpersisted, so pinned edge/label blocks
    accumulated across queries in a long session. Every op must leave
    the SQL CacheManager as empty as it found it (results are sealed
    via localCheckpoint, which does not pin through CacheManager)."""
    from hippollm_spark.operators import dedup, graph

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()

    edges = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (2, "c"), (3, "d"), (3, "e")],
        "fact_id long, entity string",
    )
    sym = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("d", "e"), ("e", "d")],
        "src string, dst string",
    )
    wed = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 3), ("b", "a", 2), ("c", "b", 3)],
        "src string, dst string, w long",
    )
    # loops long enough to cross cached rounds and a barrier round: a
    # 7-entity chain (hash-min and the star alternation), a triangle
    # with a 4-vertex tail (k=2 peels one tail vertex per round) and a
    # chain of 7 duplicate pairs
    chain = spark.createDataFrame(
        [(i, f"e{i + j}") for i in range(6) for j in (0, 1)],
        "fact_id long, entity string",
    )
    ring = [("x", "y"), ("y", "z"), ("z", "x"), ("z", "p1")]
    ring += [(f"p{i}", f"p{i + 1}") for i in range(1, 4)]
    tail = spark.createDataFrame(
        ring + [(b, a) for a, b in ring], "src string, dst string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )

    def canonicalize():
        key = "spark.hippollm.dedup.canonicalize.collectEdgeMax"
        spark.conf.set(key, "0")  # the distributed loop, not the collect
        try:
            return dedup.dedup_canonicalize(pairs)
        finally:
            spark.conf.unset(key)

    checks = [
        lambda: graph.connected_components(chain),
        lambda: graph.connected_components_star(chain),
        lambda: graph.shortest_paths(sym, ["a"], max_depth=4),
        lambda: graph.label_propagation(sym, iterations=4),
        lambda: graph.k_core(tail, 2, rounds=6),
        lambda: graph.hits(sym, iterations=2),
        lambda: graph.pagerank(sym, iterations=4),
        lambda: graph.bellman_ford(wed, ["a"], rounds=4),
        lambda: graph.explore(edges, ["a"], max_depth=3, max_relations=None),
        lambda: graph.random_walks(sym, walks_per_vertex=1, walk_length=4),
        canonicalize,
    ]
    for fn in checks:
        out = fn()
        assert out.count() > 0
        assert cm.isEmpty(), f"cache pins leaked by {fn}"
