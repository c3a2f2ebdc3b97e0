"""Distributed exact ranking — the windowless replacement for global /
near-global row_number.

An unpartitioned ``row_number()`` window (or one partitioned by a
handful of huge groups, e.g. per-corpus ranks over 3-10 corpora) sorts
every row of the table through ONE task per partition-key value — the
single worst scale hazard in a 100-TB plan. The standard scalable
replacement, implemented here once and reused by
`stats.threshold_buckets` / `behavior.rfm_segments` /
`sampling.interleave_corpora`:

1. ``repartitionByRange`` on (group keys, order keys): a sampled range
   exchange — every output partition holds a contiguous key slice, all
   partitions sort in parallel (Tungsten spillable sort, never one
   task).
2. an eager ``plan.barrier`` pins the partitioning: the per-partition
   counts (job 1) and the final rank stamping (job 2) MUST see identical
   partitions — without the pin, AQE's runtime coalescing may replan
   between the two evaluations and corrupt the offsets (the
   `with_dense_ids` double-evaluation hazard).
3. One tiny count-per-(partition, group) job → driver-side cumulative
   offsets (#partitions × #groups rows — broadcast-sized by
   construction).
4. rank = offset + per-partition ``row_number`` — a window PARTITIONED
   by the physical partition id, so every task ranks only its own
   slice.

The result is identical to ``row_number() OVER (PARTITION BY group
ORDER BY order_cols)`` whenever (group, order) is a total order (pass a
unique tie-break column), because range partitioning sends equal keys
to one partition and the offsets are computed from actual counts — the
sampled boundaries affect balance, never correctness.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hippollm_spark import plan


def distributed_rank(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    *,
    by: str | Sequence[str] | None = None,
    rank_col: str = "rank",
    partitions: int | None = None,
    with_total: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Input columns + ``rank_col`` (1-based BIGINT, row_number
    semantics per ``by`` group, ordered by ``order_cols``) — without
    any whole-group window. See module docstring for the shape.

    ``order_cols`` entries may be strings or Column expressions —
    including sort-direction columns (``F.col(x).desc()``). They MUST
    be deterministic: the range exchange and the per-partition window
    each evaluate them (identical results for deterministic exprs;
    rand()-style orders would diverge between the two).

    ``with_total=True`` additionally returns the exact global row count
    as ``(df, total)`` — it is the sum of the per-partition counts this
    operator already collects, so callers that need N (ntile bucket
    arithmetic) get it without a second full count() job over the
    ranked frame (guide §1.2 — fewer actions).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    work = df
    ocols = [F.col(oc) if isinstance(oc, str) else oc for oc in order_cols]
    sort_cols = [F.col(k) for k in keys] + ocols

    if partitions:
        work = work.repartitionByRange(partitions, *sort_cols)
    else:
        work = work.repartitionByRange(*sort_cols)
    # Pin the partitioning across the two consuming jobs (counts, then
    # rank stamping) — see module docstring step 2.
    work = plan.barrier(work, eager=True)
    part = work.withColumn("__pid__", F.spark_partition_id())

    counts = (
        part.groupBy("__pid__", *keys)
        .agg(F.count("*").alias("__cnt__"))
        .collect()
    )
    if not counts:
        out_empty = df.withColumn(rank_col, F.lit(None).cast("long"))
        return (out_empty, 0) if with_total else out_empty

    # cumulative offsets per group, in range-partition (= key) order
    offsets: list[tuple] = []
    acc: dict[tuple, int] = {}
    for r in sorted(counts, key=lambda r: r["__pid__"]):
        g = tuple(r[k] for k in keys)
        offsets.append((r["__pid__"], *g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + r["__cnt__"]

    spark = df.sparkSession
    key_fields = part.select(*keys).schema.fields if keys else []
    off_schema = (
        "__opid__ int, "
        + "".join(
            f"__k{i}__ {f.dataType.simpleString()}, "
            for i, f in enumerate(key_fields)
        )
        + "__off__ long"
    )
    off_df = spark.createDataFrame(offsets, schema=off_schema)

    # null-safe equi-join on (physical partition, group keys): group
    # keys may legitimately be NULL
    cond = F.col("__pid__") == F.col("__opid__")
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__k{i}__"))
    w = Window.partitionBy("__pid__", *keys).orderBy(*ocols)
    out = (
        part.withColumn("__rn__", F.row_number().over(w))
        .join(F.broadcast(off_df), cond, "inner")
        .withColumn(rank_col, (F.col("__off__") + F.col("__rn__")).cast("long"))
        .drop(
            "__pid__", "__rn__", "__opid__", "__off__",
            *[f"__k{i}__" for i in range(len(keys))],
        )
    )
    if with_total:
        return out, sum(r["__cnt__"] for r in counts)
    return out


def distributed_prefix_sum(
    df: DataFrame,
    value_col,
    order_cols: Sequence[Column | str],
    *,
    by: str | Sequence[str] | None = None,
    sum_col: str = "running_sum",
    rank_col: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Windowless exact running total (and optional position) over a
    total order — the batch prefix-sum that replaces
    ``sum(...) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` windows,
    which funnel the whole table (or whole group) through one task.

    Same three-step shape as `distributed_rank` (module docstring):
    range exchange → pinned partitioning → ONE tiny per-(partition,
    group) aggregate collecting both row counts and value sums →
    broadcast cumulative offsets → within-partition cumulative window
    on the physical pid. ``value_col`` may be a column name or an
    integer/decimal expression — use exact types (scaled BIGINT or
    DECIMAL); float prefix sums are order-dependent and not
    hash-replayable.
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    work = df.withColumn("__val__", v)
    ocols = [F.col(oc) if isinstance(oc, str) else oc for oc in order_cols]
    sort_cols = [F.col(k) for k in keys] + ocols

    if partitions:
        work = work.repartitionByRange(partitions, *sort_cols)
    else:
        work = work.repartitionByRange(*sort_cols)
    work = plan.barrier(work, eager=True)
    part = work.withColumn("__pid__", F.spark_partition_id())

    agg_df = part.groupBy("__pid__", *keys).agg(
        F.count("*").alias("__cnt__"), F.sum("__val__").alias("__sum__")
    )
    # offsets must carry the AGGREGATED type (e.g. decimal sums widen
    # their precision) or big running totals would overflow to NULL
    sum_type = agg_df.schema["__sum__"].dataType.simpleString()
    stats = agg_df.collect()
    if not stats:
        vtype = work.schema["__val__"].dataType.simpleString()
        out = df.withColumn(sum_col, F.lit(None).cast(vtype))
        if rank_col:
            out = out.withColumn(rank_col, F.lit(None).cast("long"))
        return out

    cnt_off: list[tuple] = []
    acc_n: dict[tuple, int] = {}
    acc_s: dict[tuple, object] = {}
    for r in sorted(stats, key=lambda r: r["__pid__"]):
        g = tuple(r[k] for k in keys)
        cnt_off.append(
            (r["__pid__"], *g, acc_n.get(g, 0), acc_s.get(g, None))
        )
        acc_n[g] = acc_n.get(g, 0) + r["__cnt__"]
        prev = acc_s.get(g, None)
        cur = r["__sum__"]
        acc_s[g] = cur if prev is None else (prev + cur if cur is not None else prev)

    spark = df.sparkSession
    key_fields = part.select(*keys).schema.fields if keys else []
    off_schema = (
        "__opid__ int, "
        + "".join(
            f"__k{i}__ {f.dataType.simpleString()}, "
            for i, f in enumerate(key_fields)
        )
        + f"__noff__ long, __soff__ {sum_type}"
    )
    off_df = spark.createDataFrame(cnt_off, schema=off_schema)

    cond = F.col("__pid__") == F.col("__opid__")
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__k{i}__"))
    w = (
        Window.partitionBy("__pid__", *keys)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rn = Window.partitionBy("__pid__", *keys).orderBy(*ocols)
    out = (
        part.withColumn("__ps__", F.sum("__val__").over(w))
        .join(F.broadcast(off_df), cond, "inner")
        .withColumn(
            sum_col,
            # window running-sum semantics: NULL values are skipped, so
            # a row whose within-partition prefix is NULL still carries
            # the prior partitions' total; the result is NULL only
            # before the group's first non-NULL value
            F.when(
                F.col("__soff__").isNull(), F.col("__ps__")
            ).otherwise(
                F.col("__soff__") + F.coalesce(F.col("__ps__"), F.lit(0))
            ),
        )
    )
    if rank_col:
        out = out.withColumn(
            rank_col,
            (F.col("__noff__") + F.row_number().over(w_rn)).cast("long"),
        )
    return out.drop(
        "__pid__", "__ps__", "__opid__", "__noff__", "__soff__", "__val__",
        *[f"__k{i}__" for i in range(len(keys))],
    )
