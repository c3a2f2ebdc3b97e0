"""Fixed-point k-means, Markov transitions, basket lift, snapshot
diff — python-replica parity and hand-computed checks."""

from __future__ import annotations


def test_kmeans_matches_python_replica(spark):
    from hippollm_spark.operators.similarity import kmeans_fit

    # two obvious blobs in 2-D
    pts = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]),
        (2, [0.1, -0.1]), (3, [10.2, 9.9]),
        (4, [-0.2, 0.1]), (5, [9.8, 10.1]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    cents, assigned = kmeans_fit(df, k=2, iterations=3)
    got = {r["__id__"]: r["cluster"] for r in assigned.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]

    # python replica of the exact integer recurrence
    def tdiv(s, n):
        return s // n if s >= 0 else -((-s) // n)

    vecs = {i: [round(x * 1e6) for x in v] for i, v in pts}
    cs = [vecs[0], vecs[1]]
    for _ in range(3):
        assign = {}
        for i, v in vecs.items():
            ds = sorted(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), j)
                for j, c in enumerate(cs)
            )
            assign[i] = ds[0][1]
        new = []
        for j, old in enumerate(cs):
            members = [vecs[i] for i in vecs if assign[i] == j]
            if not members:
                new.append(old)
                continue
            n = len(members)
            new.append(
                [tdiv(sum(m[d] for m in members), n) for d in range(2)]
            )
        cs = new
    assert cents == cs


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from hippollm_spark.operators.similarity import kmeans_fit

    # k=3 over 3 identical points: clusters 1,2 lose all members after
    # round 1 (all points closest to centroid 0 by tie-break)
    df = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0]), (2, [1.0])],
        "vec_id long, embedding array<float>",
    )
    cents, assigned = kmeans_fit(df, k=3, iterations=2)
    assert cents == [[1_000_000], [1_000_000], [1_000_000]]
    assert all(r["cluster"] == 0 for r in assigned.collect())


def test_transition_matrix(spark):
    from hippollm_spark.operators.behavior import transition_matrix

    rows = [
        (1, 1, "a", 100), (2, 1, "b", 200), (3, 1, "a", 300),
        (4, 2, "a", 100), (5, 2, "b", 200),
    ]
    df = spark.createDataFrame(
        [(e, u, t, float(ts)) for e, u, t, ts in rows],
        "event_id long, user_id long, event_type string, ts double",
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["n_from"], r["prob"])
        for r in transition_matrix(df).collect()
    }
    # user1: a->b, b->a; user2: a->b
    assert got[("a", "b")] == (2, 2, 1.0)
    assert got[("b", "a")] == (1, 1, 1.0)


def test_basket_lift(spark):
    from hippollm_spark.operators.behavior import basket_lift

    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "w"),
    ]
    df = spark.createDataFrame(rows, "basket_id long, item string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in basket_lift(df, min_support=2).collect()
    }
    assert set(got) == {("x", "y")}
    r = got[("x", "y")]
    # lift = n_pair*N / (n_x*n_y) = 2*4 / (3*2)
    assert (r["n_pair"], r["n_a"], r["n_b"]) == (2, 3, 2)
    assert abs(r["lift"] - 8 / 6) < 1e-6


def test_snapshot_diff(spark):
    from hippollm_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id long, val string"
    )
    got = {r["id"]: r for r in snapshot_diff(old, new, "id").collect()}
    assert got[1]["status"] == "same"
    assert got[2]["status"] == "changed"
    assert (got[2]["old_val"], got[2]["new_val"]) == ("b", "B")
    assert got[3]["status"] == "removed"
    assert got[4]["status"] == "added" and got[4]["new_val"] == "d"


def test_phash_dup_pairs_banding_lossless(spark):
    from pyspark.sql import functions as F

    from hippollm_spark.operators.multimodal import phash64, phash_dup_pairs

    media = spark.createDataFrame(
        [(i, bytes([i % 7, 1, 2, 3])) for i in range(40)],
        "media_id long, data binary",
    )
    pairs = phash_dup_pairs(media, max_hamming=3).collect()
    # brute force over the same fake hashes
    hs = {r["media_id"]: r["phash"] for r in phash64(media).collect()}
    want = set()
    for a in hs:
        for b in hs:
            if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3:
                want.add((a, b))
    got = {(r["media_a"], r["media_b"]) for r in pairs}
    assert got == want
    assert len(got) > 0  # identical bytes (i%7 collisions) -> hamming 0
    assert all(r["hamming"] == 0 for r in pairs if (r["media_a"] - r["media_b"]) % 7 == 0)


def test_threshold_buckets_vs_ntile(spark):
    from hippollm_spark.operators.stats import ntile_buckets, threshold_buckets

    # distinct values, one group: threshold deciles == NTILE deciles
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    thr = {r["id"]: r["bucket"] for r in threshold_buckets(df, "v", 10).collect()}
    nt = {
        r["id"]: r["bucket"]
        for r in ntile_buckets(
            df, "v", 10, tiebreak_col="id", descending=False
        ).collect()
    }
    assert thr == nt
    # ties straddling a boundary all land in one bucket
    df2 = spark.createDataFrame(
        [(i, 1.0) for i in range(10)] + [(10 + i, 2.0) for i in range(10)],
        "id long, v double",
    )
    got = {r["id"]: r["bucket"] for r in threshold_buckets(df2, "v", 4).collect()}
    assert len({got[i] for i in range(10)}) == 1
    assert len({got[10 + i] for i in range(10)}) == 1


def test_grouped_mode(spark):
    from hippollm_spark.operators.stats import grouped_mode

    df = spark.createDataFrame(
        [("u1", "a"), ("u1", "a"), ("u1", "b"),
         ("u2", "b"), ("u2", "c")],  # tie -> min value wins
        "u string, t string",
    )
    got = {r["u"]: (r["mode_value"], r["mode_count"])
           for r in grouped_mode(df, "t", "u").collect()}
    assert got == {"u1": ("a", 2), "u2": ("b", 1)}


def test_distribution_drift(spark):
    import math

    from hippollm_spark.operators.stats import distribution_drift

    rows = [("s1", "en")] * 8 + [("s1", "fr")] * 2 + [("s2", "en")] * 5 + [("s2", "fr")] * 5
    df = spark.createDataFrame(rows, "source string, lang string")
    got = {r["slice"]: r for r in
           distribution_drift(df, "lang", "source").collect()}
    # global: en 13/20, fr 7/20
    def js(p_counts, n_p):
        tot = 0.0
        for cat, n_qc in (("en", 13), ("fr", 7)):
            n_pc = p_counts.get(cat, 0)
            p = n_pc / n_p
            q = n_qc / 20
            m = (p + q) / 2
            t = 0.0
            if n_pc > 0:
                t += p * math.log(p / m) / 2
            if n_qc > 0:
                t += q * math.log(q / m) / 2
            tot += round(t, 6)
        return round(tot, 6)

    assert abs(got["s1"]["js_divergence"] - js({"en": 8, "fr": 2}, 10)) < 2e-6
    assert abs(got["s2"]["js_divergence"] - js({"en": 5, "fr": 5}, 10)) < 2e-6
    assert got["s1"]["n_rows"] == 10


def test_profile_columns(spark):
    from hippollm_spark.operators.stats import profile_columns

    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", None), (2, None, 3.5)],
        "id long, s string, v double",
    )
    got = {r["column"]: r for r in profile_columns(df).collect()}
    assert got["id"]["n_rows"] == 3 and got["id"]["n_distinct"] == 2
    assert got["id"]["min_num"] == 1.0 and got["id"]["max_num"] == 2.0
    assert got["s"]["n_nulls"] == 1 and got["s"]["min_str"] == "x"
    assert got["v"]["n_nulls"] == 1 and got["v"]["max_num"] == 3.5
    assert got["s"]["min_num"] is None


def test_bellman_ford(spark):
    from hippollm_spark.operators.graph import bellman_ford

    und = [("a", "b", 5), ("b", "c", 5), ("a", "c", 20), ("c", "d", 1)]
    edges = spark.createDataFrame(
        und + [(y, x, w) for x, y, w in und], "src string, dst string, w long"
    )
    got = {r["vertex"]: r["dist"] for r in bellman_ford(edges, ["a"], rounds=4).collect()}
    # a->b->c (10) beats the direct a->c (20)
    assert got == {"a": 0, "b": 5, "c": 10, "d": 11}
    # bounded rounds: with 1 round only direct edges relax
    one = {r["vertex"]: r["dist"] for r in bellman_ford(edges, ["a"], rounds=1).collect()}
    assert one == {"a": 0, "b": 5, "c": 20}


def test_rolling_zscore(spark):
    import datetime as dt

    from hippollm_spark.operators.temporal import rolling_zscore

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, base + dt.timedelta(minutes=i), v)
        for i, v in enumerate([10.0, 10.0, 12.0, 11.0, 100.0, 10.0])
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r["event_id"]: r for r in rolling_zscore(df, "value", lookback=10, min_obs=3).collect()}
    assert got[0]["z"] is None and got[0]["is_anomaly"] is False
    assert got[2]["z"] is None  # only 2 prior observations
    assert got[4]["is_anomaly"] is True  # 100.0 vs baseline ~10.75
    # numpy parity for the anomalous row (prior window = first 4 values)
    import numpy as np

    prior = np.array([10.0, 10.0, 12.0, 11.0])
    want = (100.0 - prior.mean()) / prior.std(ddof=1)
    assert abs(got[4]["z"] - want) < 1e-3  # fixed-point quantization tolerance


def test_ngram_lm_score(spark):
    import math

    from hippollm_spark.operators.textstats import ngram_lm_score

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "x q")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_lm_score(df).collect()}
    # vocab = {a,b,x,q} = 4; bigrams: (a,b)x2 doc0 + doc1 -> c=3, (b,a) c=1, (x,q) c=1
    # c_a=3, c_b=3, c_x=1, c_q=1
    t_ab = round(-math.log((3 + 1) / (3 + 4)), 6)
    t_ba = round(-math.log((1 + 1) / (3 + 4)), 6)
    t_xq = round(-math.log((1 + 1) / (1 + 4)), 6)
    assert got[0]["n_bigrams"] == 3
    assert abs(got[0]["nll"] - round((2 * t_ab + t_ba) / 3, 6)) < 1e-6
    assert abs(got[1]["nll"] - t_ab) < 1e-6
    assert abs(got[2]["nll"] - t_xq) < 1e-6
    # fluent (repeated) transitions score lower than rare ones
    assert got[1]["nll"] < got[2]["nll"]


def test_kmeans_pandas_assignment_matches_sql(spark):
    """method='pandas' (numpy int64 assignment, no per-round plan
    recompile) must reproduce the codegen-literal path's centroids AND
    assignments exactly — same integers, different executor."""
    from hippollm_spark.operators.similarity import kmeans_fit

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(6)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c_sql, a_sql = kmeans_fit(vecs, k=4, iterations=3)
    c_pd, a_pd = kmeans_fit(vecs, k=4, iterations=3, method="pandas")
    assert c_sql == c_pd
    assert sorted(map(tuple, a_sql.collect())) == sorted(map(tuple, a_pd.collect()))


def test_kmeans_pandas_supports_string_ids(spark):
    """Regression: the pandas path used to hardcode '__id__ long' in its
    mapInPandas schema, crashing on string ids (entity names) with an
    Arrow conversion error; it must preserve the caller's id type like
    the SQL path does."""
    from hippollm_spark.operators.similarity import kmeans_fit

    rows = [
        (f"ent_{i:02d}", [float((i * 7 + j * 3) % 11) - 5.0 for j in range(6)])
        for i in range(20)
    ]
    vecs = spark.createDataFrame(rows, "name string, embedding array<double>")
    c_sql, a_sql = kmeans_fit(vecs, k=3, iterations=2, id_col="name")
    c_pd, a_pd = kmeans_fit(vecs, k=3, iterations=2, id_col="name", method="pandas")
    assert c_sql == c_pd
    assert dict(a_pd.dtypes)["__id__"] == "string"
    assert sorted(map(tuple, a_sql.collect())) == sorted(map(tuple, a_pd.collect()))


def test_semantic_dedup_keeps_nearest_member_per_cluster(spark):
    """SemDeDup keeper selection: one row per non-empty cluster, the
    keeper is the member with the smallest (dist_e12, id), and
    n_members partitions the input exactly."""
    from hippollm_spark.operators.similarity import kmeans_fit, semantic_dedup

    pts = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]),
        (2, [0.1, -0.1]), (3, [10.2, 9.9]),
        (4, [-0.2, 0.1]), (5, [9.8, 10.1]),
        (6, [0.05, 0.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, k=2, iterations=3).collect()
    assert len(out) == 2
    assert sum(r["n_members"] for r in out) == len(pts)

    # replicate the keeper choice from the assignment table itself
    _c, assigned = kmeans_fit(df, k=2, iterations=3)
    rows = [(r["__id__"], r["cluster"], r["dist_e12"]) for r in assigned.collect()]
    for kr in out:
        members = [(d, i) for i, c, d in rows if c == kr["cluster"]]
        assert (kr["dist_e12"], kr["keeper_id"]) == min(members)
        assert kr["n_members"] == len(members)


def test_semantic_dedup_sql_and_pandas_paths_agree(spark):
    """The pandas fit reaches semantic_dedup as an injected assignment."""
    from hippollm_spark.operators.similarity import kmeans_fit, semantic_dedup

    pts = [(i, [float(i % 3), float(i % 5)]) for i in range(20)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, semantic_dedup(df, k=3, iterations=2).collect()))
    _c, assigned = kmeans_fit(df, k=3, iterations=2, method="pandas")
    b = sorted(map(tuple, semantic_dedup(df, assigned=assigned).collect()))
    assert a == b


def test_semantic_prune_survivors(spark):
    """Thresholded SemDeDup: keepers always survive; a member survives
    iff its exact integer distance to the keeper exceeds eps; with
    eps=0 everything survives."""
    from hippollm_spark.operators.similarity import semantic_dedup, semantic_prune

    pts = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]),
        (2, [0.1, -0.1]), (3, [10.2, 9.9]),
        (4, [-0.2, 0.1]), (5, [9.8, 10.1]),
        (6, [3.0, 3.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")

    everyone = semantic_prune(df, eps_e12=0, k=2, iterations=3).collect()
    assert len(everyone) == len(pts)

    keepers = {r["keeper_id"] for r in semantic_dedup(df, k=2, iterations=3).collect()}
    # huge eps: only the keepers survive
    only_keepers = semantic_prune(df, eps_e12=10**18, k=2, iterations=3).collect()
    assert {r["__id__"] for r in only_keepers} == keepers
    assert all(r["is_keeper"] == 1 for r in only_keepers)

    # mid eps: survivors = keepers + far members, checked row by row
    eps = 5 * 10**12
    surv = semantic_prune(df, eps_e12=eps, k=2, iterations=3).collect()
    for r in everyone:
        expect = r["is_keeper"] == 1 or r["dist_keeper_e12"] > eps
        assert (r["__id__"] in {s["__id__"] for s in surv}) == expect


def test_cluster_stratified_sample_caps_and_determinism(spark):
    """At most n per cluster, every sampled row's key is among the n
    smallest salted-md5 keys of its cluster, and a rerun reproduces
    the identical sample."""
    import hashlib

    from hippollm_spark.operators.similarity import (
        cluster_stratified_sample,
        kmeans_fit,
    )

    pts = [(i, [float(i % 4), float((i * 7) % 11)]) for i in range(30)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")

    out = cluster_stratified_sample(df, 3, k=3, iterations=2).collect()
    _c, assigned = kmeans_fit(df, k=3, iterations=2)
    by_cluster: dict[int, list] = {}
    for r in assigned.collect():
        key = hashlib.md5(f"strat|{r['__id__']}".encode()).hexdigest()
        by_cluster.setdefault(r["cluster"], []).append((key, r["__id__"]))
    for c, members in by_cluster.items():
        want = {i for _, i in sorted(members)[:3]}
        got = {r["__id__"] for r in out if r["cluster"] == c}
        assert got == want
    rerun = cluster_stratified_sample(df, 3, k=3, iterations=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, rerun))


def test_semantic_family_skewed_cluster_no_window(spark):
    """Skew shape + plan shape: with 90% of rows in ONE cluster the
    keeper pick and the sample draw must not funnel the hot cluster
    through a single window-sort task — the keeper is a struct-min
    AGGREGATE and the draw is the distributed group rank, so none of
    the three executed plans may contain a WindowExec partitioned by
    cluster. Results on the skewed input are cross-checked against a
    python replica."""
    import hashlib

    from hippollm_spark.operators.similarity import (
        cluster_stratified_sample,
        kmeans_fit,
        semantic_dedup,
        semantic_prune,
    )

    # 90 points near the origin (one hot cluster), 10 near (50, 50)
    pts = [(i, [float(i % 5) / 10.0, float(i % 7) / 10.0]) for i in range(90)]
    pts += [(90 + i, [50.0 + i % 3, 50.0 + i % 2]) for i in range(10)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")

    _c, assigned = kmeans_fit(df, k=2, iterations=2)
    assigned = assigned.localCheckpoint(eager=True)
    rows = [(r["__id__"], r["cluster"], r["dist_e12"]) for r in assigned.collect()]
    sizes = {}
    for _i, c, _d in rows:
        sizes[c] = sizes.get(c, 0) + 1
    assert max(sizes.values()) >= 85, "fixture must actually be skewed"

    ded = semantic_dedup(df, assigned=assigned)
    pru = semantic_prune(df, eps_e12=10**11, k=2, assigned=assigned)
    sam = cluster_stratified_sample(df, 5, assigned=assigned)
    for frame in (ded, pru):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan[:2000]
    # the draw goes through cap_per_group/distributed_rank: its only
    # window is the per-range-slice one keyed by (__pid__, cluster) —
    # a hot cluster spans MANY __pid__ slices, never one sort task
    sam_plan = sam._jdf.queryExecution().executedPlan().toString()
    for line in sam_plan.splitlines():
        if "Window" in line and "window" not in line.split("Window")[0]:
            assert "__pid__" in line, line

    # keeper replica
    keepers = {}
    for i, c, d in rows:
        if c not in keepers or (d, i) < keepers[c]:
            keepers[c] = (d, i)
    got = {r["cluster"]: (r["dist_e12"], r["keeper_id"]) for r in ded.collect()}
    assert got == keepers

    # draw replica: 5 smallest salted-md5 keys per cluster
    by_cluster: dict[int, list] = {}
    for i, c, _d in rows:
        key = hashlib.md5(f"strat|{i}".encode()).hexdigest()
        by_cluster.setdefault(c, []).append((key, i))
    out = sam.collect()
    for c, members in by_cluster.items():
        want = {i for _, i in sorted(members)[:5]}
        assert {r["__id__"] for r in out if r["cluster"] == c} == want
