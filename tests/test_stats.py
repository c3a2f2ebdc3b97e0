"""Sort-based exact percentiles vs numpy's linear interpolation."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from hippollm_spark.operators.stats import exact_percentiles


def test_exact_percentiles_match_numpy(spark):
    rng = np.random.RandomState(3)
    rows = [
        (("g%d" % (i % 3)), float(v)) for i, v in enumerate(rng.rand(500) * 100)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["p10"], r["p50"], r["p99"])
        for r in exact_percentiles(df, "v", "g", [0.1, 0.5, 0.99]).collect()
    }
    for g in ["g0", "g1", "g2"]:
        vals = np.array([v for k, v in rows if k == g])
        want = np.percentile(vals, [10, 50, 99], method="linear")
        for a, b in zip(got[g], want):
            assert abs(a - b) < 1e-9, (g, got[g], want)


def test_exact_percentiles_edge_cases(spark):
    df = spark.createDataFrame([("a", 5.0)], "g string, v double")
    row = exact_percentiles(df, "v", "g", [0.0, 0.5, 1.0]).first()
    assert (row["p0"], row["p50"], row["p100"]) == (5.0, 5.0, 5.0)

    df2 = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    row2 = exact_percentiles(df2, "v", "g", [0.25, 1.0]).first()
    assert row2["p25"] == 1.25 and row2["p100"] == 2.0


def test_approx_stats_error_bounds(spark, sf_dir):
    """HLL++ distinct within its rsd bound; approx percentile within
    the rank-error bound of the exact interpolated value's neighbors."""
    from hippollm_spark.operators.stats import approx_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    approx = {
        r["l_returnflag"]: r
        for r in approx_stats(
            li, "l_extendedprice", "l_orderkey", "l_returnflag",
            percentiles=[0.5], rsd=0.05,
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("nd"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        # HLL++ rsd=0.05 -> allow 4 sigma
        assert abs(a["approx_distinct"] - e["nd"]) <= max(4 * 0.05 * e["nd"], 2)
        # percentile_approx returns a real value near the true median
        assert abs(a["approx_p50"] - e["p50"]) / e["p50"] < 0.05


def test_heavy_hitters_matches_exact_groupby(spark, documents):
    from pyspark.sql import functions as F

    from hippollm_spark.operators.stats import heavy_hitters
    from hippollm_spark.operators.dedup import normalized_text

    toks = documents.select(
        F.explode(F.split(normalized_text("text"), " ")).alias("tok")
    )
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(toks, "tok", share_ratio=(1, 100)).collect()
    }
    total = toks.count()
    thresh = -(-total // 100)
    want = {
        r["tok"]: r["n"]
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= thresh)
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_heavy_hitters_completeness_under_adversarial_partitions(spark):
    """A hitter spread thinly across many partitions (never locally
    frequent) must still be found — the MG merge guarantee."""
    from pyspark.sql import functions as F

    from hippollm_spark.operators.stats import heavy_hitters

    # 64 partitions; 'needle' appears twice per partition (128 total =
    # 1.28% of 10k rows); noise items are all unique.
    df = (
        spark.range(10_000, numPartitions=64)
        .select(
            F.when(F.col("id") % 78 < 1, F.lit("needle"))
            .otherwise(F.concat(F.lit("u"), F.col("id")))
            .alias("item")
        )
    )
    n_needle = df.filter("item = 'needle'").count()
    out = {r["item"]: r["cnt"] for r in heavy_hitters(df, "item", share_ratio=(1, 100)).collect()}
    assert out == {"needle": n_needle}


def test_histogram_against_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from hippollm_spark.operators.stats import histogram

    vals = [float(x) for x in range(101)]  # 0..100
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r["bin"]: r for r in histogram(df, "v", n_bins=10).collect()}
    counts, edges = np.histogram(vals, bins=10, range=(0.0, 100.0))
    for b in range(10):
        assert out[b]["cnt"] == int(counts[b])
        assert abs(out[b]["bin_lo"] - edges[b]) < 1e-9
        assert abs(out[b]["bin_hi"] - edges[b + 1]) < 1e-9
    # upper bound lands in the last bin (numpy semantics too)
    assert out[9]["cnt"] == 11


def test_standardize_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from hippollm_spark.operators.stats import standardize

    rows = [("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 10.0), ("b", 10.0), ("c", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = standardize(df, ["v"], by="g").collect()
    a = np.array([1.0, 2.0, 4.0])
    mean, sd = a.mean(), a.std(ddof=1)
    got_a = sorted(r["v_z"] for r in out if r["g"] == "a")
    want_a = sorted(round((x - mean) / sd, 6) for x in a)
    for g, w in zip(got_a, want_a):
        assert abs(g - w) < 1e-6
    # zero-variance group and singleton group -> null z
    assert all(r["v_z"] is None for r in out if r["g"] in ("b", "c"))


def test_trimmed_mean_hand_computed(spark):
    from hippollm_spark.operators.stats import trimmed_mean

    # g: 1..10 with an outlier 1000 replacing 10
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "k string, value double"
    )
    r = trimmed_mean(df, "value", "k", trim=0.1).first()
    # p10 = 1.9, p90 = 109.3 -> kept 2..9 plus nothing above
    import math

    kept = [v for v in vals if 1.9 <= v <= 109.3]
    want = math.floor(sum(kept) / len(kept) * 1e6) / 1e6
    assert r["n_total"] == 10 and r["n_kept"] == len(kept)
    assert r["trimmed_mean"] == want
    # robust: the outlier moved the mean by 99+, the trimmed mean sits
    # in the interior
    assert 2.0 <= r["trimmed_mean"] <= 9.0


def test_trimmed_mean_resists_outliers_vs_plain_mean(spark):
    import numpy as np

    from hippollm_spark.operators.stats import trimmed_mean

    rng = np.random.RandomState(3)
    base = rng.normal(50, 5, 300)
    spiked = np.concatenate([base, [10_000.0] * 10])
    df = spark.createDataFrame(
        [("a", float(v)) for v in spiked], "k string, value double"
    )
    r = trimmed_mean(df, "value", "k", trim=0.05).first()
    assert abs(r["trimmed_mean"] - 50) < 2       # near the true center
    assert abs(float(np.mean(spiked)) - 50) > 100  # plain mean is wrecked


def test_global_percentile_values_fast_path_parity(spark):
    # r12: the stats-gated one-job collect path must be bit-identical
    # to the distributed selection (conf=0 forces the distributed path)
    from hippollm_spark.operators.stats import global_percentile_values

    rows = [(float((i * 37) % 101) + (0.25 if i % 3 else 0.0),) for i in range(997)]
    df = spark.createDataFrame(rows, "v double")
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.999]
    fast = global_percentile_values(df, "v", ps)
    key = "spark.hippollm.percentiles.smallCollectMaxBytes"
    spark.conf.set(key, "0")
    try:
        slow = global_percentile_values(df, "v", ps)
    finally:
        spark.conf.unset(key)
    assert fast == slow  # exact equality, not approx: same IEEE ops


def test_global_percentile_values_row_cap_on_underestimate(spark, monkeypatch):
    # without CBO the byte estimate can be far too low; the fast path
    # must still refuse to pull more than gate_bytes // 8 rows and fall
    # through to the distributed path, whose values it must return
    from hippollm_spark import plan
    from hippollm_spark.operators.stats import global_percentile_values

    rows = [(float((i * 37) % 101),) for i in range(200)]
    df = spark.createDataFrame(rows, "v double")
    ps = [0.1, 0.5, 0.9]
    key = "spark.hippollm.percentiles.smallCollectMaxBytes"
    spark.conf.set(key, "0")
    try:
        slow = global_percentile_values(df, "v", ps)
        spark.conf.set(key, "80")  # cap = 10 rows, far below the 200
        monkeypatch.setattr(plan, "estimated_bytes", lambda _df: 1)
        barriers = []
        real_barrier = plan.barrier
        monkeypatch.setattr(
            plan, "barrier", lambda d, eager=False: barriers.append(d) or real_barrier(d, eager)
        )
        capped = global_percentile_values(df, "v", ps)
    finally:
        spark.conf.unset(key)
    assert len(barriers) == 1  # the distributed path ran
    assert capped == slow
