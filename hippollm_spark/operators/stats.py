"""Statistical operators with scale-correct physical shapes.

``exact_percentiles``: grouped exact interpolated percentiles
(quantile_cont semantics) via sort + window instead of Spark's built-in
``percentile`` aggregate. The built-in buffers EVERY group value in an
in-memory ObjectHashAggregate buffer — at 100 TB a hot group OOMs an
executor. The sort-based shape shuffles once (range/hash by group),
sorts within partitions (Tungsten spillable sort), and picks the two
boundary rows per requested percentile — constant memory per group, and
~2-3× faster even at test scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hippollm_spark import plan


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    percentiles: Sequence[float],
    *,
    round_to: int | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per group.

    For percentile p over n sorted values v[1..n] (1-indexed):
    r = 1 + (n-1)*p; result = v[floor(r)] + (v[floor(r)+1] - v[floor(r)])
    * (r - floor(r)) — the quantile_cont / numpy 'linear' definition.

    Output: group cols + one column per percentile named ``p<percent>``
    (e.g. p25, p50, p75; p2_5 for fractional percents).
    """
    by = [by] if isinstance(by, str) else list(by)
    # Pin the window exchange's partition count (session conf): AQE's
    # byte-based coalescing folds the per-group sort to ONE partition
    # when the shuffle is MB-small, serializing every group's sort onto
    # one core (measured r12 on the value/quantile family: 1-task
    # window stages own the queries). A non-coalescible explicit
    # repartition on the group keys keeps each group's sort in its own
    # task; row-identical per group (guide §2.5 — bytes-small ≠
    # cpu-small).
    df = df.repartition(plan.shuffle_partitions(df.sparkSession), *by)
    w = Window.partitionBy(*by).orderBy(F.col(value_col).asc())
    # NULL values are outside the distribution (quantile_cont
    # semantics) — unfiltered they'd sort NULLS FIRST and shift every
    # boundary rank
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        *by,
        F.col(value_col).alias("__v__"),
        F.row_number().over(w).alias("__rn__"),
        F.count("*").over(Window.partitionBy(*by)).alias("__n__"),
    )

    def _name(p: float) -> str:
        pct = p * 100
        s = f"{pct:g}".replace(".", "_").replace("-", "m")
        return f"p{s}"

    aggs = []
    for p in percentiles:
        # target continuous rank and its two boundary integer ranks
        r = 1 + (F.col("__n__") - 1) * F.lit(float(p))
        lo = F.floor(r).cast("long")
        frac = r - F.floor(r)
        # keep the value only on its boundary rows, then max-agg per group
        v_lo = F.max(F.when(F.col("__rn__") == lo, F.col("__v__")))
        v_hi = F.max(
            F.when(F.col("__rn__") == lo + 1, F.col("__v__"))
        )
        frac_val = F.max(F.when(F.col("__rn__") == lo, frac))
        expr = v_lo + (F.coalesce(v_hi, v_lo) - v_lo) * frac_val
        if round_to is not None:
            expr = F.round(expr, round_to)
        aggs.append(expr.alias(_name(p)))
    return ranked.groupBy(*by).agg(*aggs)


def approx_stats(
    df: DataFrame,
    value_col: str,
    distinct_col: str,
    by: str | Sequence[str],
    *,
    percentiles: Sequence[float] = (0.5,),
    rsd: float = 0.05,
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-based grouped statistics: HyperLogLog++ distinct counts
    and quantile-sketch percentiles — the sub-linear-memory path for
    cardinalities where the exact forms (countDistinct's dedup
    shuffle, exact_percentiles' sort) are not worth their cost.

    Both sketches are mergeable, so partial aggregation stays map-side
    and the shuffle carries fixed-size sketch buffers instead of
    values: at 100 TB the shuffle volume is #groups × sketch size
    (KB), independent of row count — the entire point. Error is
    bounded, not zero: HLL++ relative error ≈ ``rsd``;
    percentile_approx rank error ≤ 1/``accuracy``. Tested against the
    exact operators at those bounds; deliberately NOT oracle-hashed
    (sketch internals differ across engines by design).
    """
    by = [by] if isinstance(by, str) else list(by)
    aggs = [
        F.approx_count_distinct(distinct_col, rsd=rsd).alias("approx_distinct"),
        F.count("*").alias("n_rows"),
    ]
    for p in percentiles:
        aggs.append(
            F.percentile_approx(value_col, p, accuracy).alias(
                f"approx_p{int(round(p * 100)):02d}"
            )
        )
    return df.groupBy(*by).agg(*aggs)


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_share: float = 0.001,
    *,
    cap: int | None = None,
    share_ratio: tuple[int, int] | None = None,
) -> DataFrame:
    """Guaranteed-complete frequent items with EXACT counts in two
    passes and bounded executor memory (the scale-safe alternative to
    ``groupBy(col).count()`` when the item domain is huge — token
    vocabularies, URLs, user agents).

    Pass 1 runs Misra-Gries summaries per partition via ``mapInPandas``
    (at most ``cap`` counters live at once; batches are absorbed with
    vectorized value_counts, then compressed by the classic
    subtract-the-(cap+1)th-count step). MG summaries are mergeable with
    additive error ≤ n_partition/(cap+1), so with cap ≥ 2/min_share
    every item of global share ≥ min_share survives summation with a
    positive residual — the candidate set is provably complete; false
    positives are fine because pass 2 semi-joins candidates back and
    counts them EXACTLY, then applies the threshold. Output is
    therefore deterministic and oracle-checkable: identical to
    ``GROUP BY col HAVING count >= ceil(min_share·N)``, but the full
    shuffle only ever carries candidate rows.

    Output: (item, cnt, share 6dp) for items with cnt ≥
    ceil(min_share·N), where N = count of non-null rows.
    """
    import pandas as pd

    if cap is None:
        if share_ratio is not None:
            cap = max(16, (2 * share_ratio[1]) // max(1, share_ratio[0]))
        else:
            cap = max(16, int(2.0 / min_share))
    item_type = df.schema[col].dataType.simpleString()

    def _mg(batches):
        counts: dict = {}
        for pdf in batches:
            for item, c in pdf["__item__"].value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > cap:
                vals = sorted(counts.values(), reverse=True)
                thresh = vals[cap]
                counts = {i: c - thresh for i, c in counts.items() if c > thresh}
        yield pd.DataFrame(
            {"item": list(counts.keys()), "residual": list(counts.values())}
        )

    src = df.select(F.col(col).alias("__item__")).filter(
        F.col("__item__").isNotNull()
    )
    candidates = (
        src.mapInPandas(_mg, f"item {item_type}, residual long")
        .groupBy("item")
        .agg(F.sum("residual").alias("residual"))
        .filter(F.col("residual") > 0)
        .select("item")
    )
    counted = src.join(
        F.broadcast(candidates), src["__item__"] == candidates["item"], "inner"
    ).groupBy("item").agg(F.count("*").alias("cnt"))
    if share_ratio is not None:
        # exact rational threshold ceil(num·N/den) — integer-only, so a
        # cross-engine oracle can reproduce it bit-for-bit ((N·num +
        # den-1) div den); float thresholds can straddle an integer
        # boundary differently per engine when share·N lands on one.
        # N comes in as a scalar subquery (guide §1.2 — no separate
        # eager count() job per call), and the HAVING uses the
        # cross-multiplied form cnt·den ≥ num·N ⟺ cnt ≥ ceil(num·N/den)
        # (den > 0, all integers — no overflow at sane den: cnt·den ≤
        # N·den < 2^63 for N·den < 9.2e18).
        num, den = share_ratio
        total_col = src.agg(F.count("*").alias("__n__")).scalar()
        exact = counted.filter(
            F.col("cnt") * F.lit(den) >= F.lit(num) * total_col
        )
        return exact.select(
            "item",
            "cnt",
            F.round(F.col("cnt") / total_col.cast("double"), 6).alias("share"),
        )
    # float min_share path: the threshold's float product depends on N
    # driver-side (int(min_share·1e6·N) truncates the double product),
    # so parity requires the eager count here.
    total = src.count()
    threshold = -(-int(min_share * 10**6 * total) // 10**6)
    exact = counted.filter(F.col("cnt") >= threshold)
    return exact.select(
        "item",
        "cnt",
        F.round(F.col("cnt") / F.lit(float(total)), 6).alias("share"),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int = 20,
    *,
    by: str | Sequence[str] | None = None,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram: (group cols, bin INT, bin_lo, bin_hi,
    cnt). Bounds default to the global min/max (one tiny agg,
    broadcast). One shuffle of (group, bin) partial counts — classic
    map-side-combinable shape, bin count independent of data size.
    Values at the upper bound land in the last bin."""
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    v = F.col(value_col).cast("double")
    if lo is None or hi is None:
        b = df.agg(
            F.min(v).alias("__lo__"), F.max(v).alias("__hi__")
        )
        df = df.crossJoin(F.broadcast(b))
        lo_c, hi_c = F.col("__lo__"), F.col("__hi__")
    else:
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
    width = (hi_c - lo_c) / F.lit(float(n_bins))
    raw_bin = F.floor((v - lo_c) / width).cast("int")
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.filter(v.isNotNull())
        .select(*keys, bin_.alias("bin"), lo_c.alias("__l__"), width.alias("__w__"))
        .groupBy(*keys, "bin", "__l__", "__w__")
        .agg(F.count("*").alias("cnt"))
        .select(
            *keys,
            "bin",
            F.round(F.col("__l__") + F.col("bin") * F.col("__w__"), 6).alias("bin_lo"),
            F.round(F.col("__l__") + (F.col("bin") + 1) * F.col("__w__"), 6).alias("bin_hi"),
            "cnt",
        )
    )


def standardize(
    df: DataFrame,
    value_cols: Sequence[str],
    *,
    by: str | Sequence[str] | None = None,
    ddof: int = 1,
) -> DataFrame:
    """Per-group z-score feature scaling: appends ``<col>_z`` =
    (x − mean)/stddev for each value column (null when the group
    variance is 0 or the group has < ddof+1 rows).

    Moments are computed as exact DECIMAL sums (Σx, Σx²) joined back
    broadcast — order-independent, so results are bit-stable across
    partitionings and engines (the built-in stddev_samp's float
    accumulation is neither); one scan + one tiny join, no window over
    the data."""
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    aggs = [F.count("*").alias("__n__")]
    for c in value_cols:
        # DECIMAL(18,6): the product DECIMAL(37,12) fits precision 38
        # WITHOUT Spark's precision-loss scale truncation (38,10)×(38,10)
        # would trigger — which silently rounds to scale 6 and diverges
        # from engines that keep full scale
        d = F.col(c).cast("decimal(18,6)")
        aggs += [
            F.sum(d).alias(f"__s_{c}__"),
            F.sum(d * d).alias(f"__s2_{c}__"),
        ]
    moments = df.groupBy(*keys).agg(*aggs)
    joined = (
        df.join(F.broadcast(moments), keys)
        if keys
        else df.crossJoin(F.broadcast(moments))
    )
    out = joined
    for c in value_cols:
        n = F.col("__n__").cast("double")
        s = F.col(f"__s_{c}__").cast("double")
        s2 = F.col(f"__s2_{c}__").cast("double")
        mean = s / n
        # try_divide: singleton groups have n-ddof = 0 (ANSI mode raises
        # on plain /); the var > 0 gate also nulls zero-variance groups
        var = F.try_divide(s2 - s * mean, n - F.lit(float(ddof)))
        z = (F.col(c).cast("double") - mean) / F.sqrt(var)
        out = out.withColumn(
            f"{c}_z",
            F.when(var > 0, F.round(z, 6)),
        )
    drop = ["__n__"] + [f"__s_{c}__" for c in value_cols] + [
        f"__s2_{c}__" for c in value_cols
    ]
    return out.drop(*drop)


def winsorize(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    *,
    lower: float = 0.01,
    upper: float = 0.99,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to the group's
    [lower, upper] exact interpolated percentiles (the
    ``exact_percentiles`` definition, so the bounds themselves are
    oracle-checkable quantile_cont values).

    Shape: one sort-based percentile pass per group (window + filter
    aggregation — the same single shuffle ``exact_percentiles`` does)
    producing a bounds table with ONE ROW PER GROUP, broadcast-joined
    back onto the fact rows. The fact table is scanned twice but
    shuffled never — at 100 TB the clip itself is scan-speed.

    Output: input columns + ``<value_col>_w`` (clipped, rounded).
    """
    by = [by] if isinstance(by, str) else list(by)
    bounds = exact_percentiles(df, value_col, by, [lower, upper])
    lo_name, hi_name = bounds.columns[len(by)], bounds.columns[len(by) + 1]
    clipped = F.least(
        F.greatest(F.col(value_col), F.col(lo_name)), F.col(hi_name)
    )
    if round_to is not None:
        clipped = F.round(clipped, round_to)
    return (
        df.join(F.broadcast(bounds), on=by)
        .withColumn(f"{value_col}_w", clipped)
        .drop(lo_name, hi_name)
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    *,
    k: float = 3.0,
    round_to: int = 6,
) -> DataFrame:
    """Robust per-group outlier flagging via median absolute deviation:
    a row is an outlier when |v − median| > k · MAD (both the median
    and the MAD are the exact interpolated group medians, so the rule
    is deterministic and oracle-checkable — unlike stddev-based
    z-scores, one wild value cannot drag the threshold).

    Two percentile passes (median of v, then median of |v − median|),
    each producing a one-row-per-group bounds table broadcast back —
    the fact rows are scanned twice, shuffled never. Deviations and
    MADs are rounded to ``round_to`` before the comparison so the
    boundary decision is bit-identical across engines.

    Output: input columns + dev (rounded |v − med|), mad (rounded
    group MAD), is_outlier BOOLEAN. A NULL measurement is flagged
    ``false``, never NULL: there is no evidence of an outlier, and a
    NULL boolean round-trips differently through engine result
    surfaces (None vs NaN — a hash-comparison trap the sf1
    NULL-bearing sweep caught).
    """
    by = [by] if isinstance(by, str) else list(by)
    med = exact_percentiles(df, value_col, by, [0.5]).withColumnRenamed(
        "p50", "__med__"
    )
    devs = df.join(F.broadcast(med), on=by).withColumn(
        "__dev__", F.abs(F.col(value_col) - F.col("__med__"))
    )
    mad = (
        exact_percentiles(devs, "__dev__", by, [0.5])
        .withColumnRenamed("p50", "__mad__")
    )
    out = (
        devs.join(F.broadcast(mad), on=by)
        .withColumn("dev", F.round("__dev__", round_to))
        .withColumn("mad", F.round("__mad__", round_to))
        .withColumn(
            "is_outlier",
            F.coalesce(F.col("dev") > F.lit(k) * F.col("mad"), F.lit(False)),
        )
        .drop("__med__", "__dev__", "__mad__")
    )
    return out


def ntile_buckets(
    df: DataFrame,
    order_col: str,
    n: int = 10,
    *,
    tiebreak_col: str | None = None,
    by: str | Sequence[str] | None = None,
    descending: bool = True,
) -> DataFrame:
    """Equal-frequency bucketing (NTILE): curriculum/quality deciles.

    Deterministic only when the total order is — pass a unique
    ``tiebreak_col``.

    Scale shape: NTILE is a pure function of the global row position
    (the first n%k buckets take ceil(n/k) rows, the rest floor), so
    the ungrouped case computes rank via `ranks.distributed_rank`
    (range exchange + parallel sorts + broadcast offsets — no
    single-partition window) and derives the bucket with a literal
    expression; output is bit-identical to the NTILE window. With
    ``by``, groups partition the window and Spark parallelizes
    per-group as usual.

    Output: input columns + bucket INT (1-based).
    """
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    ]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    if by:
        w = Window.partitionBy(*by).orderBy(*order)
        return df.withColumn("bucket", F.ntile(n).over(w))
    from hippollm_spark.operators.ranks import distributed_rank

    # total = the sum of per-partition counts distributed_rank already
    # collected — no second count() job over the ranked frame (§1.2).
    ranked, total = distributed_rank(
        df, order, rank_col="__ntile_rk__", with_total=True
    )
    if total == 0:
        return df.withColumn("bucket", F.lit(None).cast("int"))
    q, r = divmod(total, n)
    # first r buckets hold q+1 rows, the rest q (NTILE's definition)
    split = r * (q + 1)
    rk = F.col("__ntile_rk__")
    if q == 0:
        bucket = rk  # fewer rows than buckets: one row per bucket
    else:
        bucket = F.when(
            rk <= F.lit(split), F.ceil(rk / F.lit(q + 1))
        ).otherwise(F.lit(r) + F.ceil((rk - F.lit(split)) / F.lit(q)))
    return ranked.withColumn("bucket", bucket.cast("int")).drop("__ntile_rk__")


def global_percentile_values(
    df: DataFrame,
    value_col: str,
    percentiles: Sequence[float],
) -> list[float]:
    """Exact interpolated percentiles of one ungrouped column, without
    any whole-table window: `ranks.distributed_rank` range-partitions
    and ranks in parallel, then only the ≤2·len(percentiles) boundary-
    rank rows are fetched and interpolated driver-side with the same
    v_lo + (v_hi − v_lo)·frac, frac = (1+(n−1)p) − floor(…) formula as
    `exact_percentiles` (IEEE binary64 op-for-op, so results are
    bit-identical to the window form and to DuckDB's quantile_cont).

    This is the 100-TB boundary path for `threshold_buckets` /
    `rfm_segments`: the grouped `exact_percentiles` window is fine
    when ``by`` splits the data, but its ungrouped form funnels every
    row through one task.

    Shape (distributed selection, NOT a full rank stamp): range-
    partition the bare value column (narrow shuffle), pin it, collect
    per-partition counts (tiny job), map each boundary rank to its
    (partition, local rank), then sort ONLY the partitions that hold a
    boundary and fetch those ≤2·len(percentiles) rows. Three jobs on a
    single column — no join, no full-table row_number output.

    Small inputs (stats-gated, r12; row-capped) take a ONE-job fast path:
    Spark sorts the value column and the driver interpolates the same
    marks with the identical v_lo + (v_hi − v_lo)·frac arithmetic —
    rank lo maps to sorted[lo-1], bit-identical to the distributed
    selection. Per-axis callers (rfm_segments runs this three times)
    were paying 4 jobs each (range-exchange sample, checkpoint, counts,
    boundary fetch) to pull a handful of boundary values out of a
    few-MB column; the 100-TB path is unchanged past the gate.
    """
    filtered = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v__")
    )
    # gate conf: estimated bytes of the filtered value column; 0
    # disables the fast path — what the two-path parity test uses
    gate_bytes = plan.conf_int(
        df.sparkSession,
        "spark.hippollm.percentiles.smallCollectMaxBytes",
        16 * 1024 * 1024,
    )
    est_bytes = plan.estimated_bytes(filtered)
    if est_bytes is not None and 0 < gate_bytes and est_bytes <= gate_bytes:
        # Without CBO the estimate comes from compressed file sizes (a
        # dictionary-encoded column holds far more rows than its bytes
        # suggest), so the rows pulled are capped at the gate's worth of
        # 8-byte values too; an overflow takes the distributed path.
        cap = gate_bytes // 8
        seq = [r["__v__"] for r in filtered.orderBy("__v__").limit(cap + 1).collect()]
        if not seq:
            return [None for _ in percentiles]
        if len(seq) <= cap:
            return _interpolate(_rank_marks(len(seq), percentiles), lambda k: seq[k - 1])
    vals = plan.barrier(filtered.repartitionByRange("__v__"), eager=True)
    part = vals.withColumn("__pid__", F.spark_partition_id())
    counts = sorted(
        (
            (r["__pid__"], r["__c__"])
            for r in part.groupBy("__pid__")
            .agg(F.count("*").alias("__c__"))
            .collect()
        )
    )
    n = sum(c for _, c in counts)
    if n == 0:
        return [None for _ in percentiles]
    offsets: dict[int, int] = {}
    acc = 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    marks = _rank_marks(n, percentiles)
    targets = {t for lo, hi, _ in marks for t in (lo, hi)}
    # map each global target rank to (partition, local rank)
    needed: dict[int, set[int]] = {}
    bounds = [(pid, offsets[pid], offsets[pid] + c) for pid, c in counts]
    for t in targets:
        for pid, start, end in bounds:
            if start < t <= end:
                needed.setdefault(pid, set()).add(t - start)
                break
    w = Window.partitionBy("__pid__").orderBy("__v__")
    cond = None
    for pid, lranks in needed.items():
        c = (F.col("__pid__") == pid) & F.col("__rn__").isin(list(lranks))
        cond = c if cond is None else cond | c
    rows = (
        part.filter(F.col("__pid__").isin(list(needed)))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(cond)
        .collect()
    )
    by_global = {
        offsets[row["__pid__"]] + row["__rn__"]: row["__v__"] for row in rows
    }
    return _interpolate(marks, by_global.__getitem__)


def _rank_marks(n: int, percentiles: Sequence[float]) -> list[tuple[int, int, float]]:
    """quantile_cont's 1-based (lo, hi, frac) per percentile over n values."""
    marks = []
    for p in percentiles:
        r = 1 + (n - 1) * float(p)
        lo = int(r // 1)
        marks.append((lo, min(lo + 1, n), r - float(lo)))
    return marks


def _interpolate(marks, value_at) -> list:
    """v_lo + (v_hi − v_lo)·frac per mark; ``value_at`` maps a rank to its value."""
    return [value_at(lo) + (value_at(hi) - value_at(lo)) * frac for lo, hi, frac in marks]


def threshold_buckets(
    df: DataFrame,
    value_col: str,
    n: int = 10,
    *,
    by: str | Sequence[str] | None = None,
    pin_input: bool = False,
) -> DataFrame:
    """Equal-frequency-up-to-ties bucketing via percentile boundaries —
    the 100 TB alternative to ``ntile_buckets`` promised in its
    docstring: instead of a global NTILE window (which needs every
    row's global position), compute the n−1 interpolated percentile
    boundaries once (one sorted pass, one row per group) and assign
    bucket = 1 + #boundaries strictly below the value as a broadcast
    join + expression — the fact table is never globally sorted and
    never shuffled for the assignment.

    Semantics differ from NTILE exactly where ties straddle a
    boundary: all equal values land in the same bucket here (often
    what curriculum bucketing actually wants), so bucket populations
    are equal only up to ties. Boundaries are the exact interpolated
    percentiles, so the whole assignment is deterministic and
    oracle-checkable.

    Output: input columns + bucket INT (1-based, ascending by value).
    """
    by_list = [] if by is None else ([by] if isinstance(by, str) else list(by))
    ps = [i / n for i in range(1, n)]
    if not by_list:
        # ungrouped: windowless distributed boundaries, assignment is a
        # pure comparison expression — the table never shuffles at all.
        # ``pin_input`` barriers df first so an expensive
        # upstream (e.g. a quality-scoring pass) is computed once for
        # both the boundary job and the assignment output — worth it
        # when upstream >> scan, wasteful for a bare parquet scan.
        if pin_input:
            df = plan.barrier(df, eager=True)
        bvals = global_percentile_values(df, value_col, ps)
        bucket = F.lit(1)
        for bv in bvals:
            bucket = bucket + (
                F.when(F.col(value_col) > F.lit(bv), 1).otherwise(0)
                if bv is not None
                else F.lit(0)
            )
        return df.withColumn("bucket", bucket.cast("int"))
    probe = df
    group_cols = by_list
    bounds = exact_percentiles(probe, value_col, group_cols, ps)
    bcols = bounds.columns[len(group_cols):]
    bucket = F.lit(1)
    for c in bcols:
        bucket = bucket + F.when(F.col(value_col) > F.col(c), 1).otherwise(0)
    return (
        probe.join(F.broadcast(bounds), on=group_cols)
        .withColumn("bucket", bucket.cast("int"))
        .drop(*bcols)
    )


def grouped_mode(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
) -> DataFrame:
    """Deterministic per-group mode: the most frequent value, ties
    broken by smallest value — the same two-stage argmax that makes
    label_propagation hash-comparable (the built-in ``mode()`` leaves
    ties undefined). One count aggregate + a per-group max window +
    a min aggregate, all on (group, value, count) rows.

    Output: group cols + (mode_value, mode_count).
    """
    by = [by] if isinstance(by, str) else list(by)
    counted = df.groupBy(*by, value_col).agg(F.count("*").alias("__c__"))
    wmax = Window.partitionBy(*by)
    return (
        counted.withColumn("__mx__", F.max("__c__").over(wmax))
        .filter(F.col("__c__") == F.col("__mx__"))
        .groupBy(*by)
        .agg(
            F.min(value_col).alias("mode_value"),
            F.max("__mx__").alias("mode_count"),
        )
    )


def distribution_drift(
    df: DataFrame,
    category_col: str,
    slice_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Per-slice categorical drift vs the global distribution:
    Jensen-Shannon divergence (base e) of each slice's category
    distribution against the whole table's — the monitoring query a
    continuously-ingesting corpus runs per day/source to catch
    composition shifts.

    JS(P‖Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q); every probability is a
    ratio of exact integer counts, each per-category term is rounded
    to 6dp, and the per-slice total sums those rounded terms as exact
    DECIMAL — the BM25-score discipline, because a raw double sum's
    accumulation order is partition-dependent and would not
    hash-match. Categories absent from a slice contribute only
    through Q's KL term (0·log0 = 0 on the P side).

    Shape: one (slice, category) count aggregate; the global
    distribution is a category-cardinality broadcast; the JS sum is a
    per-slice aggregation over category-level terms. Rows shuffled:
    #slices × #categories.

    Output: (slice, n_rows, js_divergence).
    """
    by_cell = (
        df.groupBy(F.col(slice_col).alias("slice"), F.col(category_col).alias("cat"))
        .agg(F.count("*").alias("n_pc"))
    )
    slice_tot = by_cell.groupBy("slice").agg(F.sum("n_pc").alias("n_p"))
    glob = by_cell.groupBy("cat").agg(F.sum("n_pc").alias("n_qc"))
    # N as a scalar subquery: runs inside the divergence query instead
    # of as a separate eager df.count() job per call (guide §1.2);
    # double cast ≡ float(n) exactly.
    n_q = df.agg(F.count("*").cast("double").alias("__n__")).scalar()
    # full (slice × category) grid so Q-only categories contribute
    grid = (
        slice_tot.crossJoin(F.broadcast(glob))
        .join(by_cell, ["slice", "cat"], "left")
        .fillna(0, subset=["n_pc"])
    )
    p = F.col("n_pc") / F.col("n_p").cast("double")
    q = F.col("n_qc") / n_q
    m = (p + q) / 2.0
    term = (
        F.when(F.col("n_pc") > 0, p * F.log(p / m) / 2.0).otherwise(0.0)
        + F.when(F.col("n_qc") > 0, q * F.log(q / m) / 2.0).otherwise(0.0)
    )
    return (
        grid.groupBy("slice")
        .agg(
            F.max("n_p").alias("n_rows"),
            F.round(
                F.sum(F.round(term, 6).cast("decimal(38,10)")).cast("double"),
                round_to,
            ).alias("js_divergence"),
        )
    )


def profile_columns(
    df: DataFrame,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Data-profiling summary: one output row per column with row
    count, null count, exact distinct count, and min/max (numeric
    columns in ``min_num``/``max_num``, strings in
    ``min_str``/``max_str`` — kept in their own typed columns because
    casting doubles to strings formats differently across engines).

    One aggregation job: all per-column aggregates share a single
    pass (Spark plans the multiple DISTINCTs via one Expand), then
    the single wide row unpivots via stack(). At 100 TB swap the
    exact distincts for ``approx_count_distinct`` (mergeable, one
    pass, no Expand blowup) — the output contract is unchanged; the
    exact form is what the DuckDB oracle can replay.

    Output: (column, n_rows, n_nulls, n_distinct, min_num, max_num,
    min_str, max_str).
    """
    cols = list(columns) if columns is not None else df.columns
    # Spreading the input ahead of this aggregation was MEASURED AND
    # REJECTED (r12): the Expand×distinct partials carry every distinct
    # value per partition, so a 32-way spread multiplies partial-state
    # volume without reducing the final exchange (profile_events 1.94 s
    # → 2.30 s with the spread). The single-task partial is the
    # cheapest form at this shape; at 100 TB the docstring's
    # approx_count_distinct swap is the real fix.
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString()
        in ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal")
        or f.dataType.simpleString().startswith("decimal")
    }
    aggs = [F.count("*").alias("__n__")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}__")
        )
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}__"))
        if c in numeric:
            aggs.append(F.min(c).cast("double").alias(f"__mn_{c}__"))
            aggs.append(F.max(c).cast("double").alias(f"__mx_{c}__"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"__mn_{c}__"))
            aggs.append(F.max(c).cast("string").alias(f"__mx_{c}__"))
    wide = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c in cols:
        is_num = c in numeric
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n__").alias("n_rows"),
                F.col(f"__nn_{c}__").alias("n_nulls"),
                F.col(f"__nd_{c}__").alias("n_distinct"),
                (F.col(f"__mn_{c}__") if is_num else null_d).alias("min_num"),
                (F.col(f"__mx_{c}__") if is_num else null_d).alias("max_num"),
                (null_s if is_num else F.col(f"__mn_{c}__")).alias("min_str"),
                (null_s if is_num else F.col(f"__mx_{c}__")).alias("max_str"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def linear_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Grouped closed-form OLS of y on x: one aggregation pass computing
    the five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) as exact
    DECIMAL sums, then slope/intercept/R² from the normal equations.

    Scale shape: a single map-side-combinable hash aggregate — the
    shuffle carries one row of six decimals per group regardless of
    corpus size. The DECIMAL accumulation is order-independent, so
    results are bit-stable across partitionings and hash-comparable to
    any engine replaying the same sums (float `regr_slope`-style
    accumulation is neither).

    Rows where either coordinate is NULL are excluded (SQL regr_*
    semantics). Degenerate groups (n < 2 or zero x-variance) yield NULL
    slope/intercept/r2. R² is NULL when y has zero variance.

    Reference scope note: the reference (hippoLLM) has no statistics
    surface at all (SURVEY.md §2.10); this is part of the
    training-data-pipeline extension layer (trend fitting for
    drift/throughput monitoring).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    ok = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    x = F.col(x_col).cast("decimal(18,6)")
    y = F.col(y_col).cast("decimal(18,6)")
    # DECIMAL(18,6)×DECIMAL(18,6) = DECIMAL(37,12): stays under Spark's
    # 38-digit cap without the silent precision-loss truncation a
    # (38,10)×(38,10) product would trigger.
    agg = (
        df.filter(ok)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("__sx__"),
            F.sum(y).alias("__sy__"),
            F.sum(x * y).alias("__sxy__"),
            F.sum(x * x).alias("__sxx__"),
            F.sum(y * y).alias("__syy__"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx__").cast("double")
    sy = F.col("__sy__").cast("double")
    sxy = F.col("__sxy__").cast("double")
    sxx = F.col("__sxx__").cast("double")
    syy = F.col("__syy__").cast("double")
    cov_n = n * sxy - sx * sy       # n² · cov
    var_x = n * sxx - sx * sx       # n² · var(x)
    var_y = n * syy - sy * sy       # n² · var(y)
    slope = F.when(var_x > 0, cov_n / var_x)
    intercept = F.when(var_x > 0, (sy - (cov_n / var_x) * sx) / n)
    r2 = F.when(
        (var_x > 0) & (var_y > 0), (cov_n * cov_n) / (var_x * var_y)
    )
    return agg.select(
        *keys,
        "n",
        F.round(slope, round_to).alias("slope"),
        F.round(intercept, round_to).alias("intercept"),
        F.round(r2, round_to).alias("r2"),
    )


def correlation_matrix(
    df: DataFrame,
    value_cols: Sequence[str],
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation of k numeric columns in ONE
    aggregation pass: k·(k+3)/2 exact DECIMAL sums (Σxᵢ, Σxᵢ², Σxᵢxⱼ
    for i<j) per group, unpivoted to long form
    (group keys, col_a, col_b, n, corr).

    Scale shape: one map-side-combinable hash aggregate; shuffle volume
    is O(groups · k²) decimals, independent of row count — the same
    wide-agg-then-explode shape as `profile_columns`. NULL handling is
    pairwise-complete-equivalent only when columns have no NULLs; rows
    with a NULL in ANY requested column are dropped first (listwise),
    keeping every pair on the same row population so the matrix is
    positive semi-definite.

    Zero-variance columns produce NULL correlations; `corr(a,a)` rows
    are not emitted (they are 1 by definition).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    cols = list(value_cols)
    # Stats-gated spread before the wide decimal aggregation (the
    # profile_columns rationale): the k(k+3)/2 BigDecimal sums ran on
    # the input's 3 scan splits (measured r12: a 1.42 s 3-task stage
    # owned corr_matrix). Exact DECIMAL sums are order-independent.
    df = plan.spread(df)
    ok = F.lit(True)
    for c in cols:
        ok = ok & F.col(c).isNotNull()
    dec = {c: F.col(c).cast("decimal(18,6)") for c in cols}
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.sum(dec[c]).alias(f"__s_{c}__"))
        aggs.append(F.sum(dec[c] * dec[c]).alias(f"__s2_{c}__"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.sum(dec[a] * dec[b]).alias(f"__sp_{a}_{b}__"))
    wide = df.filter(ok).groupBy(*keys).agg(*aggs)

    n = F.col("n").cast("double")
    structs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sa = F.col(f"__s_{a}__").cast("double")
            sb = F.col(f"__s_{b}__").cast("double")
            saa = F.col(f"__s2_{a}__").cast("double")
            sbb = F.col(f"__s2_{b}__").cast("double")
            sab = F.col(f"__sp_{a}_{b}__").cast("double")
            cov = n * sab - sa * sb
            va = n * saa - sa * sa
            vb = n * sbb - sb * sb
            corr = F.when(
                (va > 0) & (vb > 0), cov / F.sqrt(va * vb)
            )
            structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("n").alias("n"),
                    F.round(corr, round_to).alias("corr"),
                )
            )
    return wide.select(
        *keys, F.explode(F.array(*structs)).alias("p")
    ).select(*keys, "p.*")


def grouped_auc(
    df: DataFrame,
    score_col: str,
    label_col,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """ROC-AUC per group via the Mann-Whitney rank-sum identity, with
    exact tie handling:

        AUC = (Σ avg_rank(positives) − P(P+1)/2) / (P·N)

    where avg_rank uses midranks for tied scores. All intermediate
    quantities are kept in integers — midranks enter doubled
    (2·avg_rank = 2·rank + tie_count − 1), so the numerator
    2·Σavg_rank − P(P+1) is an exact BIGINT and the result is
    bit-stable across engines and partitionings (no float rank
    accumulation).

    Scale shape: one window rank per group (range-partitioned sort —
    Tungsten spillable, constant memory) + one hash aggregate; no
    pairwise positive×negative expansion (the naive O(P·N) join is the
    shape that dies at 100 TB).

    `label_col` may be a column name or a boolean Column expression.
    Groups with zero positives or zero negatives yield NULL auc.
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    lbl = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("boolean")
    w_rank = Window.partitionBy(*keys).orderBy(F.col(score_col).asc())
    w_tie = Window.partitionBy(*keys, F.col(score_col))
    # NULL labels are excluded from the test population (not counted
    # as negatives): a NULL-labeled row would otherwise occupy a rank
    # and inflate neg = n − n_pos, biasing the AUC.
    ranked = df.filter(
        F.col(score_col).isNotNull() & lbl.isNotNull()
    ).select(
        *keys,
        lbl.alias("__y__"),
        F.rank().over(w_rank).alias("__r__"),
        F.count("*").over(w_tie).alias("__c__"),
    )
    agg = ranked.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(F.col("__y__").cast("long")).alias("n_pos"),
        F.sum(
            F.when(
                F.col("__y__"),
                2 * F.col("__r__").cast("long") + F.col("__c__") - 1,
            )
        ).alias("__s2__"),
    )
    p = F.col("n_pos")
    neg = F.col("n") - p
    num = F.col("__s2__") - p * (p + 1)
    auc = F.when(
        (p > 0) & (neg > 0),
        num.cast("double") / (2 * p * neg).cast("double"),
    )
    return agg.select(
        *keys, "n", "n_pos", F.round(auc, round_to).alias("auc")
    )


def welch_t_test(
    df: DataFrame,
    arm_col: str,
    metric_col: str,
    arm_a: str,
    arm_b: str,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Welch's t-test (unequal variances) between two
    experiment arms, from ONE aggregation pass of exact DECIMAL
    sufficient statistics (n, Σx, Σx² per arm): means, sample
    variances, t statistic, and Welch–Satterthwaite degrees of
    freedom. The shuffle carries six decimals per group — A/B
    readouts at 100 TB cost one scan.

    t = (mean_b − mean_a) / sqrt(va/na + vb/nb); dof via
    Welch–Satterthwaite. Arms with n < 2 or both variances 0 yield
    NULL t. (p-values need the t CDF — driver-side scipy if wanted;
    the statistic itself is the engine's job.)
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    x = F.col(metric_col).cast("decimal(18,6)")
    is_a = F.col(arm_col) == arm_a
    is_b = F.col(arm_col) == arm_b
    agg = (
        df.filter((is_a | is_b) & F.col(metric_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(is_b, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(is_a, x)).alias("__sa__"),
            F.sum(F.when(is_b, x)).alias("__sb__"),
            F.sum(F.when(is_a, x * x)).alias("__sa2__"),
            F.sum(F.when(is_b, x * x)).alias("__sb2__"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("__sa__").cast("double")
    sb = F.col("__sb__").cast("double")
    sa2 = F.col("__sa2__").cast("double")
    sb2 = F.col("__sb2__").cast("double")
    mean_a = sa / na
    mean_b = sb / nb
    va = (sa2 - sa * mean_a) / (na - 1)
    vb = (sb2 - sb * mean_b) / (nb - 1)
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0),
        (mean_b - mean_a) / F.sqrt(se2),
    )
    dof = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0),
        (se2 * se2)
        / (sea * sea / (na - 1) + seb * seb / (nb - 1)),
    )
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        F.round(mean_a, round_to).alias("mean_a"),
        F.round(mean_b, round_to).alias("mean_b"),
        F.round(mean_b - mean_a, round_to).alias("lift"),
        F.round(t, round_to).alias("t_stat"),
        F.round(dof, round_to).alias("dof"),
    )


def conversion_chi2(
    df: DataFrame,
    arm_col: str,
    success_col,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """R×2 chi-square test of independence between experiment arm and
    a boolean outcome: χ² = Σ (O−E)²/E over the contingency table,
    E = row_total · col_total / N. Counts are exact integers from one
    aggregate; the statistic assembles per group from an
    arms-per-group-sized intermediate (a second tiny aggregate), so
    nothing data-sized shuffles twice.

    `success_col` may be a column name or boolean expression. Output:
    group keys, n, n_arms, chi2 (NULL when any expected cell is 0 —
    degenerate margins), dof = (r−1).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    succ = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("boolean")
    cells = (
        df.filter(succ.isNotNull())
        .groupBy(*keys, F.col(arm_col).alias("__arm__"))
        .agg(
            F.count("*").alias("__rt__"),
            F.sum(succ.cast("long")).alias("__s__"),
        )
    )
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    with_tot = cells.select(
        *keys,
        "__arm__",
        "__rt__",
        "__s__",
        F.sum("__rt__").over(w).alias("__n__"),
        F.sum("__s__").over(w).alias("__cs__"),
        F.count("*").over(w).alias("n_arms"),
    )
    n = F.col("__n__").cast("double")
    rt = F.col("__rt__").cast("double")
    cs = F.col("__cs__").cast("double")
    cf = n - cs
    o_s = F.col("__s__").cast("double")
    o_f = rt - o_s
    e_s = rt * cs / n
    e_f = rt * cf / n
    term = F.when(
        (e_s > 0) & (e_f > 0),
        (o_s - e_s) * (o_s - e_s) / e_s + (o_f - e_f) * (o_f - e_f) / e_f,
    )
    per_arm = with_tot.select(
        *keys,
        F.col("__n__").alias("n"),
        "n_arms",
        term.alias("__term__"),
    )
    gb = [*keys, "n", "n_arms"]
    return (
        per_arm.groupBy(*gb)
        .agg(
            F.count("*").alias("__narm2__"),
            F.sum(
                F.when(F.col("__term__").isNotNull(), 1).otherwise(0)
            ).alias("__ok__"),
            # round each arm's term at 6dp THEN sum as exact DECIMAL —
            # order-independent and engine-replayable (the
            # `distribution_drift` discipline); a float sum of the
            # raw terms would be partition-order dependent
            F.sum(
                F.round(F.col("__term__"), round_to).cast("decimal(28,6)")
            ).alias("__chi2__"),
        )
        .select(
            *keys,
            "n",
            "n_arms",
            F.when(
                F.col("__ok__") == F.col("__narm2__"),
                F.col("__chi2__").cast("double"),
            ).alias("chi2"),
            (F.col("n_arms") - 1).alias("dof"),
        )
    )


def ks_test(
    df: DataFrame,
    value_col: str,
    arm_col: str,
    arm_a: str,
    arm_b: str,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D statistic per group —
    the nonparametric companion to `welch_t_test` (distribution shift,
    not just mean shift).

    D = max over pooled distinct values of |F_a(x) − F_b(x)| with the
    ECDFs evaluated right-continuously. The maximization runs ENTIRELY
    in integers: per distinct value, |ca·nb − cb·na| (cumulative counts
    cross-multiplied), so the max is exact and engine-replayable; the
    single division by na·nb happens once at the end.

    Shape: one (group, value) pre-aggregate, one window cumsum per
    group (spillable sort), one max aggregate. No pairwise expansion.
    Groups missing either arm yield NULL d_stat.
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    is_a = F.col(arm_col) == arm_a
    is_b = F.col(arm_col) == arm_b
    pts = (
        df.filter((is_a | is_b) & F.col(value_col).isNotNull())
        .groupBy(*keys, F.col(value_col).alias("__v__"))
        .agg(
            F.sum(F.when(is_a, 1).otherwise(0)).alias("__da__"),
            F.sum(F.when(is_b, 1).otherwise(0)).alias("__db__"),
        )
    )
    w = Window.partitionBy(*keys).orderBy("__v__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(*keys)
    cum = pts.select(
        *keys,
        F.sum("__da__").over(w).alias("__ca__"),
        F.sum("__db__").over(w).alias("__cb__"),
        F.sum("__da__").over(w_all).alias("__na__"),
        F.sum("__db__").over(w_all).alias("__nb__"),
    )
    num = F.abs(
        F.col("__ca__") * F.col("__nb__") - F.col("__cb__") * F.col("__na__")
    )
    agg = cum.groupBy(*keys).agg(
        F.max("__na__").alias("n_a"),
        F.max("__nb__").alias("n_b"),
        F.max(num).alias("__dnum__"),
    )
    na = F.col("n_a")
    nb = F.col("n_b")
    d = F.when(
        (na > 0) & (nb > 0),
        F.col("__dnum__").cast("double") / (na * nb).cast("double"),
    )
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        F.round(d, round_to).alias("d_stat"),
        F.round(
            F.sqrt((na * nb).cast("double") / (na + nb).cast("double")) * d,
            round_to,
        ).alias("ks_scaled"),
    )


def gini(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Gini concentration coefficient per group (how unequally a
    quantity — revenue, token counts, domain traffic — is distributed):

        G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n,  xᵢ ascending, i = 1..n

    Both Σx and the rank-weighted Σ i·xᵢ accumulate as exact DECIMALs
    (ties contribute identically under any permutation, so the
    row_number tie order cannot change the result); the two divisions
    happen once per group at the end. One spillable window sort + one
    aggregate — the same shape as `exact_percentiles`.

    Negative values are rejected semantically (Gini is defined for
    non-negative quantities); groups with Σx = 0 yield NULL.
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    w = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    x = F.col(value_col).cast("decimal(18,6)")
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        x.alias("__x__"),
        F.row_number().over(w).cast("decimal(18,0)").alias("__i__"),
    )
    agg = ranked.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("__x__").alias("__sx__"),
        F.sum(F.col("__i__") * F.col("__x__")).alias("__six__"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx__").cast("double")
    six = F.col("__six__").cast("double")
    g = F.when(
        F.col("__sx__") > 0,
        2.0 * six / (n * sx) - (n + 1.0) / n,
    )
    return agg.select(
        *keys,
        "n",
        F.round(sx, 2).alias("total"),
        F.round(g, round_to).alias("gini"),
    )


def entropy(
    df: DataFrame,
    cat_col: str,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Shannon entropy of a categorical column per group (token/label/
    domain diversity — the drift-and-collapse signal next to
    `distribution_drift`): H = −Σ p·ln p, with each term ln-rounded at
    6dp and summed as exact DECIMAL (order-independent, the
    `distribution_drift` discipline), plus the normalized H/ln(k).

    Shape: one (group, category) count aggregate, one tiny per-group
    reduce — shuffle volume is the distinct-category domain, not rows.
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    cells = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(*keys, F.col(cat_col).alias("__c__"))
        .agg(F.count("*").alias("__cnt__"))
    )
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    with_tot = cells.withColumn("__n__", F.sum("__cnt__").over(w))
    p = F.col("__cnt__").cast("double") / F.col("__n__").cast("double")
    term = F.round(-p * F.log(p), round_to).cast("decimal(28,6)")
    agg = with_tot.groupBy(*keys).agg(
        F.max("__n__").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(term).alias("__h__"),
    )
    h = F.col("__h__").cast("double")
    norm = F.when(
        F.col("n_distinct") > 1,
        F.round(h / F.log(F.col("n_distinct").cast("double")), round_to),
    ).otherwise(F.lit(0.0))
    return agg.select(
        *keys,
        "n",
        "n_distinct",
        F.round(h, round_to).alias("entropy"),
        norm.alias("entropy_norm"),
    )


def psi_drift(
    df: DataFrame,
    category_col: str,
    slice_col: str,
    *,
    epsilon_ratio: tuple[int, int] = (1, 10_000),
    round_to: int = 6,
) -> DataFrame:
    """Population Stability Index per slice vs the global distribution
    — the industry-standard drift score next to `distribution_drift`'s
    JS divergence (PSI > 0.25 ≈ "significant shift" rule of thumb):

        PSI = Σ_cat (p − q) · ln(p/q)

    Zero cells are floored at ε = epsilon_ratio (default 1/10000) on
    BOTH sides — the conventional PSI smoothing, and it keeps ln
    finite; ε enters as an exact rational so both engines compute the
    identical doubles. Terms are 6dp-rounded then DECIMAL-summed (the
    `distribution_drift` discipline).

    Same physical shape as distribution_drift: one (slice, category)
    aggregate + a category-cardinality broadcast grid.
    """
    by_cell = (
        df.groupBy(
            F.col(slice_col).alias("slice"), F.col(category_col).alias("cat")
        )
        .agg(F.count("*").alias("n_pc"))
    )
    slice_tot = by_cell.groupBy("slice").agg(F.sum("n_pc").alias("n_p"))
    glob = by_cell.groupBy("cat").agg(F.sum("n_pc").alias("n_qc"))
    # N as a scalar subquery — same rationale as distribution_drift.
    n_q = df.agg(F.count("*").cast("double").alias("__n__")).scalar()
    grid = (
        slice_tot.crossJoin(F.broadcast(glob))
        .join(by_cell, ["slice", "cat"], "left")
        .fillna(0, subset=["n_pc"])
    )
    e_num, e_den = epsilon_ratio
    eps = F.lit(e_num).cast("double") / F.lit(e_den).cast("double")
    p = F.greatest(F.col("n_pc") / F.col("n_p").cast("double"), eps)
    q = F.greatest(F.col("n_qc") / n_q, eps)
    term = (p - q) * F.log(p / q)
    return (
        grid.groupBy("slice")
        .agg(
            F.max("n_p").alias("n_rows"),
            F.round(
                F.sum(F.round(term, round_to).cast("decimal(28,6)")).cast(
                    "double"
                ),
                round_to,
            ).alias("psi"),
        )
    )


def association_chi2(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """R×C chi-square test of independence between two categorical
    columns plus Cramér's V effect size (the `conversion_chi2`
    generalization for non-boolean outcomes — e.g. language × source,
    segment × event type):

        χ² = Σ_cells (O − E)²/E,  E = row_tot·col_tot/N
        V  = sqrt(χ² / (N · min(R−1, C−1)))

    The full R×C grid (including zero-observed cells, which still
    contribute E) is a cross join of the two margin tables — both
    category-cardinality-sized, so the grid is tiny; per-cell terms
    are 6dp-rounded then DECIMAL-summed (order-independent).

    Output: one row — (n, n_rows_cat, n_cols_cat, chi2, dof,
    cramers_v); NULL chi2 when any margin is empty.
    """
    ok = F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    cells = (
        df.filter(ok)
        .groupBy(F.col(col_a).alias("__a__"), F.col(col_b).alias("__b__"))
        .agg(F.count("*").alias("__o__"))
    )
    row_m = cells.groupBy("__a__").agg(F.sum("__o__").alias("__rt__"))
    col_m = cells.groupBy("__b__").agg(F.sum("__o__").alias("__ct__"))
    # N as a scalar subquery: runs inside the χ² query instead of as a
    # separate eager count() job per call (guide §1.2). Kept as BIGINT
    # for the output column; cast to double where the old float(n) was.
    n = df.filter(ok).agg(F.count("*").alias("__n__")).scalar()
    grid = (
        row_m.crossJoin(F.broadcast(col_m))
        .join(cells, ["__a__", "__b__"], "left")
        .fillna(0, subset=["__o__"])
    )
    o = F.col("__o__").cast("double")
    e = F.col("__rt__").cast("double") * F.col("__ct__").cast("double") / n.cast(
        "double"
    )
    term = F.when(e > 0, (o - e) * (o - e) / e)
    agg = grid.agg(
        F.countDistinct("__a__").alias("n_rows_cat"),
        F.countDistinct("__b__").alias("n_cols_cat"),
        F.count("*").alias("__cells__"),
        F.sum(F.when(term.isNotNull(), 1).otherwise(0)).alias("__okc__"),
        F.sum(F.round(term, round_to).cast("decimal(28,6)")).alias("__chi2__"),
    )
    chi2 = F.when(
        F.col("__okc__") == F.col("__cells__"),
        F.col("__chi2__").cast("double"),
    )
    minrc = F.least(
        F.col("n_rows_cat") - 1, F.col("n_cols_cat") - 1
    ).cast("double")
    v = F.when(
        chi2.isNotNull() & (minrc > 0),
        F.sqrt(chi2 / (n.cast("double") * minrc)),
    )
    return agg.select(
        n.alias("n"),
        "n_rows_cat",
        "n_cols_cat",
        chi2.alias("chi2"),
        ((F.col("n_rows_cat") - 1) * (F.col("n_cols_cat") - 1)).alias("dof"),
        F.round(v, round_to).alias("cramers_v"),
    )


def benford_test(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str] | None = None,
    *,
    round_to: int = 6,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law with a
    chi-square misfit statistic — the classic fabricated-numbers /
    data-quality screen for value columns.

    Expected share of digit d is log10(1 + 1/d); observed counts are
    exact integers. The first digit is extracted from the DECIMAL(18,6)
    string form — positional notation in every engine, whereas a raw
    double→string cast goes scientific for small values and a
    floor(log10) extraction hits libm's off-by-an-ulp at powers of ten
    — so the digit is engine-stable with no float log anywhere.
    Per-digit χ² terms are 6dp-rounded then DECIMAL-summed. Rows with
    |value| rounding to 0 at 6dp, or NULL, are excluded.

    Every group is materialized against the full 1-9 digit grid
    (the association_chi2 zero-cell pattern): a digit with zero
    observed count still contributes its (0−E)²/E = E term — omitting
    it understates misfit exactly when the distribution is most
    degenerate (e.g. all values share one leading digit).

    Output: group keys + (n, chi2_benford) one row per group — join
    `digit_shares` form if per-digit detail is wanted.
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    v = F.col(value_col)
    dec = F.abs(v).cast("decimal(18,6)")
    digits = F.regexp_replace(
        F.regexp_replace(dec.cast("string"), r"[.]", ""), r"^0+", ""
    )
    d1 = F.substring(digits, 1, 1).cast("int")
    base = df.filter(v.isNotNull() & (dec > 0)).select(
        *keys, d1.alias("__d__")
    )
    # The digit domain is the fixed grid 1..9, so the zero cells pivot
    # into ONE conditional aggregation — no grid join (whose equi-keys
    # would drop NULL group keys), no window, one map-side-combinable
    # shuffle of 9 counters per group.
    counters = [
        F.sum(F.when(F.col("__d__") == d, 1).otherwise(0)).alias(f"__o{d}__")
        for d in range(1, 10)
    ]
    agg = base.groupBy(*keys).agg(F.count("*").alias("n"), *counters)
    if not keys:
        # groupBy() with no keys always emits one global row, so an
        # empty/fully-filtered input would yield (n=0, chi2 NULL)
        # where the grouped form (and the pre-conditional-aggregation
        # implementation) returns an empty frame — keep that contract.
        agg = agg.filter(F.col("n") > 0)
    n_d = F.col("n").cast("double")
    chi2 = None
    for d in range(1, 10):
        # log10 stays engine-side: JVM and DuckDB agree on these nine
        # inputs (round-1 verified), python's math.log10 might not.
        expected = n_d * F.log10(F.lit(1.0 + 1.0 / d))
        o = F.col(f"__o{d}__").cast("double")
        term = F.round((o - expected) * (o - expected) / expected, round_to)
        term = term.cast("decimal(28,6)")
        chi2 = term if chi2 is None else chi2 + term
    return agg.select(
        *keys,
        "n",
        F.round(chi2.cast("double"), round_to).alias("chi2_benford"),
    )


def privacy_risk(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col: str | None = None,
    *,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """Re-identification risk audit before releasing/sharing a table:
    per quasi-identifier combination — group size (k-anonymity),
    distinct sensitive values (l-diversity when ``sensitive_col`` is
    given), and the violation flags.

    A table is k-anonymous iff NO group is smaller than k, and
    l-diverse iff no group carries fewer than l distinct sensitive
    values. One exact hash aggregate over the QI columns — the
    risky-groups output is the thing to inspect/suppress before
    export; at 100 TB swap countDistinct for an HLL sketch if the
    sensitive domain is huge (exact here: the audit must not
    under-count a violation).

    Output: QI cols + (group_size, n_sensitive, k_violation,
    l_violation), one row per QI combination.
    """
    qi = list(quasi_identifiers)
    aggs = [F.count("*").alias("group_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).alias("n_sensitive"))
    out = df.groupBy(*qi).agg(*aggs)
    if sensitive_col is None:
        out = out.withColumn("n_sensitive", F.lit(None).cast("long"))
    return out.select(
        *qi,
        "group_size",
        "n_sensitive",
        (F.col("group_size") < k).alias("k_violation"),
        F.when(
            F.col("n_sensitive").isNotNull(), F.col("n_sensitive") < l
        ).alias("l_violation"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    *,
    trim: float = 0.1,
) -> DataFrame:
    """Per-group trimmed mean: drop values strictly outside the
    [p_trim, p_(1-trim)] interpolated-percentile band, then average
    the survivors — the robust location estimate that, unlike the
    median alone, keeps interior information while ignoring tail
    outliers (billing glitches, sensor spikes).

    Determinism discipline: boundaries are exact interpolated
    percentiles (`exact_percentiles`, replicated op-for-op by the
    DuckDB oracle — NOT quantile_cont, whose internal arithmetic can
    differ by an ulp exactly when a boundary lands on a data value);
    the survivor sum is exact DECIMAL; the final quotient is FLOORED
    at 6dp (round-after-division is boundary-unstable cross-engine).

    Shape: one grouped percentile pass + one broadcast join + one
    aggregate — survivors never re-shuffle beyond the group key.
    Output: (by…, n_total, n_kept, trimmed_mean DOUBLE).
    """
    keys = [by] if isinstance(by, str) else list(by)
    bounds = exact_percentiles(df, value_col, keys, [trim, 1 - trim])
    lo_col, hi_col = bounds.columns[len(keys):]
    v = F.col(value_col)
    joined = df.join(F.broadcast(bounds), on=keys)
    kept = (v >= F.col(lo_col)) & (v <= F.col(hi_col))
    return (
        joined.groupBy(*keys)
        .agg(
            F.count(v).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            (
                F.floor(
                    F.sum(
                        F.when(kept, v.cast("decimal(18,6)"))
                    ).cast("double")
                    / F.sum(F.when(kept, 1).otherwise(0))
                    * 1_000_000
                )
                / 1_000_000
            ).alias("trimmed_mean"),
        )
    )
