"""Plan mechanics shared by every operator.

The reference is eager, single-process Python; managing Spark lineage
has no counterpart there, so every such decision lives here once:

- ``barrier``       — cut lineage, durable when the deployment asks;
- ``seal``          — barrier an operator's result and release its pins;
- ``spread``        — repartition a small input across the cores;
- ``estimated_bytes`` — the optimizer's size estimate of a plan;
- ``loop_tuning`` / ``broadcast_if`` — planner settings for iterative
  loops with a known shape;
- ``iterate``       — the round driver of every state-replacing loop:
  barrier cadence, cache pins, convergence and early exit;
- ``conf_int`` / ``shuffle_partitions`` — integer conf reads, one rule:
  unset means the default, a non-integer raises naming the key (Spark's
  own partition count falls back to the default parallelism instead).

The ``spark.hippollm.*`` keys the operators read (all integers):

- ``spark.hippollm.triangles.intersectEdgeMax`` (default: heap-derived)
- ``spark.hippollm.triangles.broadcastStateMax`` (2,000,000)
- ``spark.hippollm.triangles.wedgeMaterializeMax`` (150,000,000)
- ``spark.hippollm.lsh.bucketWidthMax`` (unset: no cap)
- ``spark.hippollm.dedup.canonicalize.collectEdgeMax`` (1,000,000)
- ``spark.hippollm.percentiles.smallCollectMaxBytes`` (16 MiB)
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A loop state table at or below this row count is broadcast into the
# per-round joins (checkpoint leaves have no size statistics, so the
# planner would otherwise exchange the big cached edge list every
# round); above it, the shuffle join is the right plan and the hint is
# withheld. ~2M rows of (vertex, long) is tens of MB serialized.
BROADCAST_STATE_MAX = 2_000_000


def conf_int(spark, key: str, default: int | None) -> int | None:
    """Integer session conf ``key``; ``default`` when unset. A value
    that is not an integer raises ``ValueError`` naming the key rather
    than silently falling back to the default."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{key} must be an integer, got {raw!r}") from None


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` (Spark's own
    default, 200, when unset). Unlike the ``spark.hippollm.*`` keys, a
    non-integer value is not an error: some Spark distributions accept
    ``auto`` here and size shuffles themselves, so it reads as the
    default parallelism."""
    try:
        return conf_int(spark, "spark.sql.shuffle.partitions", 200)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's LOGICAL size estimate of ``df``'s plan, or None
    when the plan has no statistics or the estimate is too large for
    Python to convert (cross joins multiply estimates into BigInts of
    thousands of digits). Costs no job — unlike
    ``df.rdd.getNumPartitions()``, which under AQE finalizes the
    adaptive plan and so EXECUTES the whole upstream (measured r11 as
    two 1.5-2.9 s single-task jobs at the head of every curation
    query). Without CBO the estimate can be far off for filtered or
    joined plans; callers gate a choice on it, never correctness."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (Py4JError, ValueError):
        return None


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Spread rows across cores before a CPU-heavy stage.

    Spark sizes file-scan partitions by BYTES, and a compact parquet
    input is tiny relative to the per-row CPU of a signature/model
    stage (a 40 MB documents file is ONE partition = one core while 31
    idle — measured 10× on the minhash signature stage at 200k docs).
    Row-wise deterministic: placement never affects per-row results.

    An estimated input below ``maxPartitionBytes × partitions`` cannot
    produce enough scan splits to fill the cores, so it is
    repartitioned (``partitions`` defaults to the default parallelism);
    big inputs (the 100-TB case) keep their native splits and never pay
    the exchange.
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    if partitions <= 0:
        return df
    size = estimated_bytes(df)
    if size is None:
        return df
    mpb = int(df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    if size < mpb * partitions:
        return df.repartition(partitions)
    return df


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Lineage/plan barrier with a durability policy.

    The returned frame is a leaf, so optimizer rules can no longer sink
    filters below it or duplicate the subtree it cut off, and iterative
    plans stop growing.

    A lazy barrier is not free under AQE: cutting the plan finalizes
    it, so every shuffle and broadcast stage below the cut runs at the
    call, and only the last stage waits for the first action. A model
    stage below the cut runs there once per reference to it in the
    plan: the lazy barrier after ingest's dedup gate ran 15 jobs at the
    call while the gate's input was still an unmaterialized LLM chain
    (perfbench ingest, seed 1, 4 cores).

    - Without a checkpoint directory: ``localCheckpoint`` — blocks in
      NON-replicated executor storage. Free and correct on local[*]
      (one JVM: if it dies, the whole app dies), and the right default
      without a distributed file system.
    - With one (``sparkContext.setCheckpointDir(...)`` on HDFS/object
      storage): a RELIABLE checkpoint, so a lost executor does not fail
      the job. The subtree is persisted, checkpointed eagerly and
      released, so it is computed once (a lazy reliable checkpoint
      runs its own recomputing job after the first action anyway).
      The session factory sets
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` so the files
      are reaped once the result is unreferenced.
    """
    if not df.sparkSession.sparkContext._jsc.sc().checkpointDir().isDefined():
        return df.localCheckpoint(eager=eager)
    # a caller's own cache pin on the same plan is left to the caller
    pinned = df.storageLevel != StorageLevel.NONE
    if not pinned:
        df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        if not pinned:
            df.unpersist()


def seal(df: DataFrame, pins: Sequence[DataFrame]) -> DataFrame:
    """Cut an operator's result free of its lineage with an eager
    barrier and release every cache pin in ``pins``. The inputs are
    usually cache-resident from the operator's own actions, so this is
    one cheap materialization; without the unpersist, CacheManager
    holds the pinned blocks until the session dies and they accumulate
    across calls in a long session."""
    out = barrier(df, eager=True)
    for p in pins:
        p.unpersist()
    return out


def broadcast_if(df: DataFrame, n: int) -> DataFrame:
    """Broadcast hint gated on a row-count BOUND for the frame being
    broadcast (see ``BROADCAST_STATE_MAX``). Callers must pass a bound
    on THIS frame's rows — the vertex count for per-vertex state tables
    (which can hold up to 2·|E| rows when vertices come from src ∪
    dst), not the edge count — because an explicit hint bypasses
    autoBroadcastJoinThreshold entirely."""
    return F.broadcast(df) if n <= BROADCAST_STATE_MAX else df


# loop_tuning mutates two SESSION-global confs; the lock + PER-SESSION
# depth counters make overlapping loops safe (first entrant on a
# session saves, last exiter on that session restores — no torn
# save/restore can leave the narrowed settings applied permanently,
# and two sessions looping concurrently in one process each get their
# own save/set/restore instead of the first session's saved values
# leaking onto the second).
_TUNING_LOCK = threading.Lock()
# id(spark) -> [depth, (saved_aqe, saved_partitions)]; entries are
# removed at depth 0, so a dead session never pins stale state.
_TUNING_STATE: dict[int, list] = {}


@contextmanager
def loop_tuning(spark, n_keys: int):
    """Planner settings scoped to a fixed-shape iterative loop: the
    2·iterations jobs have KNOWN shapes (edge scan + small-key
    aggregate, usually with a broadcast state join), so AQE re-planning
    per job buys nothing and costs a driver round-trip per stage, and
    the default shuffle width schedules many near-empty tasks per
    exchange. Partitions are sized to the loop's key volume,
    ``min(session, max(8, n_keys / 250k))``: the session's own setting
    is a true ceiling, so a session narrower than 8 is never widened
    and a 100-TB graph keeps the caller's sizing. Both settings are
    restored on exit, exception or not.

    Concurrency: overlapping loops are refcounted PER SESSION
    (outermost entrant on a session saves+sets, last exiter on that
    session restores — inner loops inherit the outer sizing). An
    unrelated query running concurrently on the same session DOES see
    AQE off and the narrowed partitions for the loop's duration;
    callers mixing iterative graph ops with concurrent wide queries on
    one session should run the graph op on its own session."""
    key = id(spark)
    with _TUNING_LOCK:
        state = _TUNING_STATE.get(key)
        if state is None:
            saved = (
                spark.conf.get("spark.sql.adaptive.enabled"),
                spark.conf.get("spark.sql.shuffle.partitions"),
            )
            sp0 = shuffle_partitions(spark)
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(min(sp0, max(8, n_keys // 250_000))),
            )
            _TUNING_STATE[key] = [1, saved]
        else:
            state[0] += 1
    try:
        yield
    finally:
        with _TUNING_LOCK:
            state = _TUNING_STATE[key]
            state[0] -= 1
            if state[0] == 0:
                saved = state[1]
                spark.conf.set("spark.sql.adaptive.enabled", saved[0])
                spark.conf.set("spark.sql.shuffle.partitions", saved[1])
                del _TUNING_STATE[key]


def iterate(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], rounds: int, *,
    every: int, n_keys: int, converged: Callable | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Run ``state = step(state)`` at most ``rounds`` times under
    ``loop_tuning``; return the final state and its live cache pins,
    ready for ``seal``. Every ``every``-th round ends in an eager
    ``barrier``. Without ``converged`` the other rounds stay lazy and
    nothing is pinned. With it they are cached, so the check and the
    next round share one materialization: ``converged(prev, cur)`` runs
    while ``prev`` is still pinned, the loop stops at the first True,
    and each superseded pin (``state``'s own too) is released."""
    pin = state if converged is not None and state.is_cached else None
    with loop_tuning(state.sparkSession, n_keys):
        for r in range(rounds):
            cur = step(state)
            cur_pin = None
            if r % every == every - 1:
                cur = barrier(cur, eager=True)
            elif converged is not None:
                cur_pin = cur = cur.cache()
            done = converged is not None and converged(state, cur)
            if pin is not None:
                pin.unpersist()  # the superseded round
            pin, state = cur_pin, cur
            if done:
                break
    return state, [pin] if pin is not None else []
