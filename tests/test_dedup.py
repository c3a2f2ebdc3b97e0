"""Dedup family tests: exactness of the Jaccard join, recall of the
approximate paths, block-matmul cosine correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hippollm_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "completely different text about spark engines"),
        (4, "  The   quick brown fox jumps over the lazy dog "),  # ws/case dup of 0
        (5, "another unrelated document mentioning nothing"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_keeps_lowest_id(docs):
    surv = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert surv == [0, 1, 3, 5]


def test_duplicate_groups(docs):
    groups = dedup.duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 2, 4]


def test_jaccard_pairs_exact(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_dup_pairs(docs, threshold=0.5).collect()
    }
    # exact dups have J=1.0
    assert pairs[(0, 2)] == 1.0
    assert pairs[(0, 4)] == 1.0
    assert pairs[(2, 4)] == 1.0
    # near-dup shares 6 of 7+7 distinct 3-shingles → J = 6/8
    assert pairs[(0, 1)] == 0.75
    assert (0, 3) not in pairs


def test_minhash_recall_and_precision(docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_dup_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=128, bands=32).collect()
    }
    # verification step makes precision exact; bands=32/rows=4 makes
    # recall ~1 at J>=0.5 on this tiny set
    assert approx <= exact
    assert len(approx) >= len(exact) - 1


def test_minhash_recall_on_documents(documents):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_dup_pairs(documents, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(documents, threshold=0.5).collect()
    }
    assert approx <= exact
    recall = len(approx) / max(len(exact), 1)
    assert recall >= 0.9, f"minhash recall {recall} over {len(exact)} true pairs"


def test_simhash_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_dup_pairs(docs, max_hamming=3).collect()
    }
    # exact dups have identical fingerprints (hamming 0)
    assert (0, 2) in pairs and (0, 4) in pairs and (2, 4) in pairs


def test_simhash60_sql_matches_semantics(docs):
    """The pure-SQL md5 simhash: exact/whitespace dups collapse to the
    same fingerprint, unrelated docs stay far apart, and fingerprints
    fit in 60 bits (cross-engine oracle contract)."""
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash60_sql(docs).collect()}
    assert fps[0] == fps[2] == fps[4]
    assert 0 <= fps[3] < 2**60 and fps[0] != fps[3]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_block_pairs(
            dedup.simhash60_sql(docs), max_hamming=3, n_bits=60
        ).collect()
    }
    assert {(0, 2), (0, 4), (2, 4)} <= pairs
    assert (0, 3) not in pairs


def test_embedding_dup_pairs_matches_bruteforce(spark, embeddings):
    """Cross-implementation parity for the e6-exact semantics: the
    blocked numpy kernel must equal a naive Spark-SQL cross join that
    replays the SAME definition — e6 HALF_UP quantization, exact
    integer dot/norms, the integer threshold predicate
    1e8·dot² ≥ t_e4²·na·nb (DECIMAL(38,0): dot² ≈ 1e28 overflows
    BIGINT), and the floor(1e6·q + 0.5)/1e6 cosine. This is the same
    definition the DuckDB oracle replays, so three independent
    implementations pin it."""
    qv = embeddings.select(
        F.col("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast("long"),
        ).alias("ve"),
    )
    dot_l = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    t4sq = 4000 * 4000
    dec = "decimal(38,0)"
    a = qv.select(F.col("vec_id").alias("id_a"), F.col("ve").alias("va"))
    b = qv.select(F.col("vec_id").alias("id_b"), F.col("ve").alias("vb"))
    slow_df = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot_l)
        .withColumn("na", nrm(F.col("va")))
        .withColumn("nb", nrm(F.col("vb")))
        .filter(
            (F.col("dot") > 0)
            & (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (
                F.lit(10**8).cast(dec) * (F.col("dot").cast(dec) * F.col("dot").cast(dec))
                >= F.lit(t4sq).cast(dec) * (F.col("na").cast(dec) * F.col("nb").cast(dec))
            )
        )
        .withColumn(
            "cos",
            F.floor(
                1e6
                * (
                    F.col("dot").cast("double")
                    / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                )
                + 0.5
            )
            / 1e6,
        )
    )
    slow = {(r["id_a"], r["id_b"]): r["cos"] for r in slow_df.collect()}
    fast = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_dup_pairs(embeddings, threshold=0.4).collect()
    }
    assert set(fast) == set(slow)
    for k in fast:
        assert fast[k] == slow[k], (k, fast[k], slow[k])


def test_canonicalize_collapses_chains(spark):
    # a~b, b~c, plus isolated pair (10,11): chains collapse transitively
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dedup_canonicalize(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_canonicalize_long_chain_converges(spark):
    # path graph 0-1-2-...-9: diameter 9 forces multiple propagation
    # rounds (and a localCheckpoint) before everything reaches label 0
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dedup_canonicalize(pairs).collect()
    }
    assert got == {i: 0 for i in range(10)}


def test_apply_dedup_keeps_canonicals_and_unpaired(docs):
    pairs = dedup.jaccard_dup_pairs(docs, threshold=0.5)
    assignments = dedup.dedup_canonicalize(pairs)
    kept = sorted(
        r["doc_id"] for r in dedup.apply_dedup(docs, assignments).collect()
    )
    # docs 0,1,2,4 are one near-dup group (canonical 0); 3 and 5 unpaired
    assert kept == [0, 3, 5]


def test_remove_boilerplate_segments(spark):
    # 'w1..w10' is a 10-token block shared by 4 docs (boilerplate);
    # each doc also has unique content that must survive in order
    boiler = " ".join(f"w{i}" for i in range(10))
    rows = [(i, f"{boiler} unique{i} tail{i}") for i in range(4)]
    rows.append((9, "standalone document with no shared blocks at all"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.remove_boilerplate_segments(
            docs, seg_tokens=10, max_df=2
        ).collect()
    }
    for i in range(4):
        assert out[i] == f"unique{i} tail{i}"  # boilerplate block gone
    assert out[9] == "standalone document with no shared blocks at all"


def test_edit_distance_pairs_matches_bruteforce(spark):
    from pyspark.sql import functions as F

    from hippollm_spark.operators.dedup import edit_distance_pairs

    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet").select(
        F.col("p_partkey").alias("doc_id"), F.col("p_name").alias("text")
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(part, "text", k=2).collect()
    }
    a = part.select(F.col("doc_id").alias("ia"), F.col("text").alias("ta"))
    b = part.select(F.col("doc_id").alias("ib"), F.col("text").alias("tb"))
    want = {
        (r["ia"], r["ib"], r["d"])
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .withColumn("d", F.levenshtein("ta", "tb"))
        .filter("d <= 2")
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_edit_distance_pairs_short_strings(spark):
    from hippollm_spark.operators.dedup import edit_distance_pairs

    rows = [(1, "ab"), (2, "abc"), (3, "xy"), (4, ""), (5, "abcd"), (6, "zzzzzzzz")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "text", k=2).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2   # ab -> xy
    assert got[(2, 5)] == 1
    assert got[(1, 4)] == 2   # ab -> ''
    assert (1, 6) not in got and (4, 6) not in got


def test_canonicalize_driver_and_distributed_paths_agree(spark):
    # Two-path parity (r11 adaptive strategy): the gated driver
    # union-find and the distributed min-label loop must produce the
    # identical assignment on a seeded random pair graph (chains,
    # triangles, repeats, an isolated pair, and a self-pair).
    import random

    rng = random.Random(42)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    edges += [(100, 101), (7, 7)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        (r["doc_id"], r["canonical_id"])
        for r in dedup.dedup_canonicalize(pairs).collect()
    }
    key = "spark.hippollm.dedup.canonicalize.collectEdgeMax"
    spark.conf.set(key, "0")  # force the distributed loop
    try:
        slow = {
            (r["doc_id"], r["canonical_id"])
            for r in dedup.dedup_canonicalize(pairs).collect()
        }
    finally:
        spark.conf.unset(key)
    assert fast == slow


def test_minhash_bucket_width_guard(spark):
    # r12 (VERDICT r11 #3): a planted degenerate bucket — many docs with
    # IDENTICAL text collide on every band — must be droppable via
    # bucket_width_max without touching pairs that flow through sane
    # buckets. Default (no cap) keeps results byte-identical.
    rows = [(i, "spam spam spam spam spam spam") for i in range(20)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert (100, 101) in uncapped
    assert (0, 1) in uncapped  # the degenerate clique pairs up uncapped
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            df, threshold=0.5, bucket_width_max=10
        ).collect()
    }
    # every bucket of the 20-doc clique exceeds the cap -> its pairs are
    # dropped; the sane pair survives untouched
    assert (100, 101) in capped
    assert all(a >= 100 for a, _ in capped)
    # conf spelling of the same cap
    key = "spark.hippollm.lsh.bucketWidthMax"
    spark.conf.set(key, "10")
    try:
        via_conf = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
        }
    finally:
        spark.conf.unset(key)
    assert via_conf == capped
    # invalid conf value errors instead of silently falling back
    spark.conf.set(key, "lots")
    try:
        with pytest.raises(ValueError):
            dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    finally:
        spark.conf.unset(key)


def test_simhash_block_pairs_releases_storage(spark):
    # r12 (VERDICT r11 #2/#4): the fingerprint materialization must not
    # leave CacheManager pins behind — N repeated library calls may not
    # grow the persistent-RDD set once their results are dropped.
    import gc

    rows = [(i, f"token{i} alpha beta gamma delta") for i in range(30)]
    rows += [(900, "xx yy zz ww"), (901, "xx yy zz ww")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pinned_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    baseline = pinned_ids()  # other fixtures legitimately hold caches
    for _ in range(3):
        out = dedup.simhash_dup_pairs(df, max_hamming=3)
        assert out.count() >= 1
        del out
    import time

    deadline = time.time() + 30
    leaked = None
    while time.time() < deadline:
        gc.collect()  # drop py4j refs so the JVM-side plans unreference
        spark.sparkContext._jvm.System.gc()  # let ContextCleaner reap
        leaked = pinned_ids() - baseline
        if not leaked:
            break
        time.sleep(0.5)
    # checkpoint blocks are ContextCleaner-reaped once unreferenced;
    # the old .cache() pin would sit here forever
    assert not leaked, f"storage pins leaked by repeated calls: {leaked}"
