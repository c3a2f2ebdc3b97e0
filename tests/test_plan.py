"""Plan mechanics (hippollm_spark/plan.py): the guard that keeps them in
one module, and the behaviour of each helper."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from hippollm_spark import plan

PKG = Path(__file__).resolve().parents[1] / "hippollm_spark"
PLAN_CONF_PREFIXES = ("spark.hippollm.", "spark.sql.shuffle.partitions")


def _plan_violations(source: str, module: str) -> list[str]:
    """Plan decisions made outside plan.py: lineage cuts, optimizer size
    reads, hippollm/shuffle-partition conf reads, and underscore names
    imported from another operator module."""
    package = module.split(".")[:-1]
    found = []
    for node in ast.walk(ast.parse(source)):
        line = getattr(node, "lineno", 0)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            name = node.func.attr
            if name in ("localCheckpoint", "checkpoint"):
                found.append(f"{module}:{line} calls {name}")
            key = node.args[0] if node.args else None
            if (
                name == "get"
                and isinstance(key, ast.Constant)
                and isinstance(key.value, str)
                and key.value.startswith(PLAN_CONF_PREFIXES)
            ):
                found.append(f"{module}:{line} reads {key.value}")
        elif isinstance(node, ast.Attribute) and node.attr == "sizeInBytes":
            found.append(f"{module}:{line} reads sizeInBytes")
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            src = ".".join(base + ([node.module] if node.module else []))
            if src.startswith("hippollm_spark.operators.") and src != module:
                found += [
                    f"{module}:{line} imports {src}.{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    return found


def test_plan_mechanics_live_only_in_plan_module():
    # the scanner itself must catch every kind of violation
    probe = (
        "from .graph import _helper\n"
        "x = df.localCheckpoint(eager=True)\n"
        "y = df.checkpoint()\n"
        "n = spark.conf.get('spark.sql.shuffle.partitions')\n"
        "g = spark.conf.get('spark.hippollm.lsh.bucketWidthMax', None)\n"
        "s = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()\n"
    )
    assert len(_plan_violations(probe, "hippollm_spark.operators.dedup")) == 6

    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "plan.py":
            continue
        module = ".".join(path.relative_to(PKG.parent).with_suffix("").parts)
        found += _plan_violations(path.read_text(), module)
    assert not found, "plan decisions outside plan.py:\n" + "\n".join(found)


def test_plan_barrier_reliable_when_checkpoint_dir_set(spark, tmp_path):
    # localCheckpoint by default; a RELIABLE checkpoint (survives
    # executor loss on a cluster) when the app configured a checkpoint
    # dir, computing the subtree once and leaving no cache pin behind.
    sc = spark.sparkContext
    calls = sc.accumulator(0)

    @F.udf("long")
    def doubled(x):
        calls.add(1)
        return 2 * x

    df = spark.range(10).withColumn("v", doubled("id"))
    local = plan.barrier(df, eager=True)
    assert local.count() == 10
    assert not sc._jsc.sc().checkpointDir().isDefined()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        # the lazy form too: a lazy reliable checkpoint recomputes the
        # subtree in its own job after the first action
        before = calls.value
        rel = plan.barrier(df)
        assert sorted(r["v"] for r in rel.collect()) == [2 * i for i in range(10)]
        assert rel.count() == 10
        assert calls.value - before == 10, "subtree evaluated more than once"
        assert cm.isEmpty(), "the reliable barrier left a cache pin behind"
        # the reliable path wrote checkpoint files under the configured dir
        ckpt_files = [p for p in (tmp_path / "ckpt").rglob("*") if p.is_file()]
        assert ckpt_files, "expected reliable checkpoint files on disk"
    finally:
        # restore the local default for the rest of the session (no
        # public unset API — clear the underlying Option directly)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None)
        )
    assert not sc._jsc.sc().checkpointDir().isDefined()


def test_estimated_bytes_of_astronomical_plan_is_unknown(spark):
    # cross joins multiply size estimates; past Python's int-string
    # limit (4300 digits) py4j cannot even convert the BigInt
    df = spark.range(10**18)
    for i in range(260):
        df = df.crossJoin(spark.range(10**18).toDF(f"c{i}"))
    assert plan.estimated_bytes(df) is None
    assert plan.spread(df) is df


@pytest.fixture
def partitions_32(spark):
    """The loop-tuning tests assume a session wider than the loop's
    floor of 8; set it rather than inherit the machine's core count."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_loop_tuning_restores_confs_on_exception(spark, partitions_32):
    """The loop-scoped planner settings must be restored whatever
    happens inside the loop — an exception mid-iteration must not leak
    AQE-off / narrow shuffle widths into the rest of the session."""
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(RuntimeError):
        with plan.loop_tuning(spark, 100):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"

    # ceiling: a huge key volume keeps the session's own sizing
    with plan.loop_tuning(spark, 10**9):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"

    # a session narrower than the floor is never widened
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    for n_keys in (100, 10**9):
        with plan.loop_tuning(spark, n_keys):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"

    # broadcast gate: hint applied at/below the max, withheld above
    df = spark.range(3).toDF("x")
    hinted = plan.broadcast_if(df, 1000)
    unhinted = plan.broadcast_if(df, 10**9)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()


def test_loop_tuning_is_per_session(spark, partitions_32):
    """Two sessions looping concurrently must each get tuned and
    restored independently — the refcount/saved state is keyed by
    session, not module-global (ADVICE r8: a second session's loop ran
    untuned and the first session's saved confs were written onto the
    second on last exit)."""
    other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "17")
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        with plan.loop_tuning(spark, 100):
            # second session's loop must tune ITS confs (not be treated
            # as a nested entry of the first session's loop)...
            with plan.loop_tuning(other, 100):
                assert other.conf.get("spark.sql.adaptive.enabled") == "false"
                assert other.conf.get("spark.sql.shuffle.partitions") == "8"
                assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            # ...and restore ITS saved values, leaving the first
            # session's loop still tuned
            assert other.conf.get("spark.sql.shuffle.partitions") == "17"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        other.conf.unset("spark.sql.shuffle.partitions")


def _inc(df):
    return df.select((F.col("id") + 1).alias("id"))


def _pinned(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_iterate_runs_every_round_lazily_without_converged(spark):
    inputs = []

    def step(df):
        inputs.append(df)
        return _inc(df)

    out, pins = plan.iterate(spark.range(3), step, 5, every=3, n_keys=3)
    assert len(inputs) == 5 and pins == []
    assert not any(_pinned(df) for df in inputs)
    assert sorted(r.id for r in out.collect()) == [5, 6, 7]


def test_iterate_stops_at_first_converged(spark):
    rounds = []

    def converged(prev, cur):
        rounds.append(cur.first().id)
        return len(rounds) == 2

    out, pins = plan.iterate(
        spark.range(1), _inc, 10, every=3, n_keys=1, converged=converged
    )
    assert rounds == [1, 2]
    assert out.first().id == 2
    for p in pins:
        p.unpersist()


@pytest.mark.parametrize("converges", [False, True])
def test_iterate_barriers_every_nth_round(spark, monkeypatch, converges):
    steps, barriered = [], []
    real_barrier = plan.barrier

    def step(df):
        steps.append(df)
        return _inc(df)

    def spy(df, eager=False):
        barriered.append((len(steps), eager))
        return real_barrier(df, eager=eager)

    monkeypatch.setattr(plan, "barrier", spy)
    converged = (lambda prev, cur: False) if converges else None
    out, pins = plan.iterate(
        spark.range(2), step, 7, every=3, n_keys=2, converged=converged
    )
    assert barriered == [(3, True), (6, True)]
    assert out.first().id == 7
    for p in pins:
        p.unpersist()


def test_iterate_releases_previous_pin_after_converged_reads_it(spark):
    start = spark.range(3).cache()
    frames, seen = [start], []

    def step(df):
        frames.append(_inc(df))
        return frames[-1]

    def converged(prev, cur):
        # prev is still readable from its pin while the check runs
        seen.append(_pinned(prev))
        assert cur.join(prev, "id", "left_anti").count() == 1
        return False

    # rounds 1, 2 and 4 are cached, round 3 ends in a barrier
    out, pins = plan.iterate(start, step, 4, every=3, n_keys=3, converged=converged)
    assert seen == [True, True, True, False]
    assert not any(_pinned(df) for df in frames[:3])  # start, rounds 1-2
    assert len(pins) == 1 and pins[0] is out and _pinned(out)
    out.unpersist()


def _percentiles(spark):
    from hippollm_spark.operators.stats import global_percentile_values

    df = spark.createDataFrame([(float(i),) for i in range(5)], "v double")
    return global_percentile_values(df, "v", [0.5])


def _canonicalize(spark):
    from hippollm_spark.operators.dedup import dedup_canonicalize

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    return dedup_canonicalize(pairs).collect()


@pytest.mark.parametrize(
    "key, run",
    [
        ("spark.hippollm.percentiles.smallCollectMaxBytes", _percentiles),
        ("spark.hippollm.dedup.canonicalize.collectEdgeMax", _canonicalize),
    ],
)
def test_invalid_conf_raises_naming_the_key(spark, key, run):
    # these two gates used to fall back silently to their defaults
    assert plan.conf_int(spark, key, 7) == 7  # unset: the default
    spark.conf.set(key, "lots")
    try:
        with pytest.raises(ValueError, match=key):
            run(spark)
    finally:
        spark.conf.unset(key)
    run(spark)


def test_shuffle_partitions_non_integer_reads_default_parallelism(spark, monkeypatch):
    # OSS Spark rejects setting "auto", so the conf read is patched
    real_get = spark.conf.get
    gate = "spark.hippollm.percentiles.smallCollectMaxBytes"

    def fake_get(key, *args, **kw):
        if key in ("spark.sql.shuffle.partitions", gate):
            return "auto"
        return real_get(key, *args, **kw)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    assert plan.shuffle_partitions(spark) == spark.sparkContext.defaultParallelism
    with pytest.raises(ValueError, match=gate):
        plan.conf_int(spark, gate, 7)
