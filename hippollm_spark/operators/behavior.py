"""Behavioral event analytics: funnel conversion and cohort retention.

The reference engine has no event analytics at all (SURVEY.md §2.10);
these are the two queries every 100-TB event store answers daily, so
the engine ships them as first-class operators with oracle-checkable
semantics.

Scale shapes:
- Funnel: one filtered scan per step, each reduced to (user, min_ts)
  BEFORE joining — the joins carry one row per user per step, never raw
  events. Steps chain left-to-right (step k's earliest timestamp must
  strictly follow step k-1's), which is the order-sensitive definition
  (a purchase before ever viewing does not convert).
- Cohort: two aggregates over the same (user, period) projection; the
  shuffle key is user_id both times, so AQE can reuse the exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hippollm_spark import plan

__all__ = ["funnel_counts", "cohort_retention"]


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    method: str = "walk",
) -> DataFrame:
    """Ordered funnel: for each step k, the number of users whose
    earliest step-k event strictly follows their earliest qualifying
    step-(k-1) event. Output: (step_idx INT, step STRING,
    n_users BIGINT, conversion DOUBLE 6dp — fraction of step-1 users).

    ``method='walk'`` (default): ONE scan + ONE shuffle — per-user
    step events are sorted and walked with a codegen'd ``aggregate``
    lambda that advances a (stage, t) state at the first event of the
    next step with ts strictly greater. ``method='joins'`` is the
    textbook per-step min-join chain (N scans, N shuffles) kept as the
    cross-check; both produce identical results (tested).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if method == "walk":
        return _funnel_walk(
            events, steps, user_col=user_col, ts_col=ts_col, type_col=type_col
        )
    reached: DataFrame | None = None
    counts: list[DataFrame] = []
    for idx, step in enumerate(steps):
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("user"), F.col(ts_col).alias("__ts__")
        )
        if reached is None:
            reached = ev.groupBy("user").agg(F.min("__ts__").alias("t"))
        else:
            reached = (
                ev.join(reached.select("user", F.col("t").alias("__prev__")), "user")
                .filter(F.col("__ts__") > F.col("__prev__"))
                .groupBy("user")
                .agg(F.min("__ts__").alias("t"))
            )
        counts.append(
            reached.agg(F.count("*").alias("n_users")).select(
                F.lit(idx + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                "n_users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    first = counts[0].select(F.col("n_users").alias("__n1__"))
    return (
        out.crossJoin(F.broadcast(first))
        .select(
            "step_idx",
            "step",
            "n_users",
            F.round(F.col("n_users") / F.col("__n1__"), 6).alias("conversion"),
        )
    )


def _funnel_walk(
    events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Single-scan funnel: filter to step events, collect each user's
    (ts, step_idx) list, sort, and fold with ``aggregate`` — the state
    (stage, t) advances when an event's step equals the next expected
    stage AND its ts is strictly later. All JVM-side; the one shuffle
    carries only step-matching events."""
    n = len(steps)
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    per_user = (
        events.filter(F.col(type_col).isin(list(steps)))
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                F.col(ts_col).alias("ts"),
                step_idx[F.col(type_col)].alias("si"),
            ).alias("ev"),
        )
        .groupBy("user")
        .agg(F.sort_array(F.collect_list("ev")).alias("evs"))
        .select(
            F.aggregate(
                "evs",
                F.struct(
                    F.lit(-1).alias("stage"),
                    F.lit(None).cast(events.schema[ts_col].dataType).alias("t"),
                ),
                lambda st, e: F.when(
                    (e["si"] == st["stage"] + 1)
                    & ((st["stage"] == -1) | (e["ts"] > st["t"])),
                    F.struct(e["si"].alias("stage"), e["ts"].alias("t")),
                ).otherwise(st),
            )["stage"].alias("stage")
        )
    )
    stages = per_user.groupBy("stage").agg(F.count("*").alias("n"))
    ladder = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    counts = (
        F.broadcast(ladder)
        .join(stages, stages["stage"] >= ladder["step_idx"] - 1, "left")
        .groupBy("step_idx", "step")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_users"))
    )
    first = counts.filter(F.col("step_idx") == 1).select(
        F.col("n_users").alias("__n1__")
    )
    return counts.crossJoin(F.broadcast(first)).select(
        "step_idx",
        "step",
        "n_users",
        F.round(F.col("n_users") / F.col("__n1__"), 6).alias("conversion"),
    )


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Classic retention triangle: users grouped by first-activity
    period (their cohort); for each (cohort, offset) the number of
    cohort users active ``offset`` periods later. Output:
    (cohort TIMESTAMP, period_offset INT, n_users BIGINT,
    retention DOUBLE 6dp — fraction of the cohort's size).
    """
    divisor = {"week": 7, "day": 1}[period]
    act = events.select(
        F.col(user_col).alias("user"),
        F.date_trunc(period, F.col(ts_col)).alias("p"),
    ).distinct()
    first = act.groupBy("user").agg(F.min("p").alias("cohort"))
    joined = act.join(first, "user").select(
        "cohort",
        (F.datediff(F.col("p"), F.col("cohort")) / divisor)
        .cast("int")
        .alias("period_offset"),
        "user",
    )
    per_cell = joined.groupBy("cohort", "period_offset").agg(
        F.countDistinct("user").alias("n_users")
    )
    sizes = per_cell.filter(F.col("period_offset") == 0).select(
        "cohort", F.col("n_users").alias("__size__")
    )
    return (
        per_cell.join(sizes, "cohort")
        .select(
            "cohort",
            "period_offset",
            "n_users",
            F.round(F.col("n_users") / F.col("__size__"), 6).alias("retention"),
        )
    )


def transition_matrix(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive event types per user — the behavioral "what happens
    next" query (and the input to next-event prediction baselines).

    One window per user orders events by (ts, tiebreak) — the unique
    tie-break makes consecutive pairs, and therefore every count,
    deterministic under concurrent timestamps — then pairs aggregate
    map-side. Probability = count / Σcount(from_type), computed
    against a type-cardinality-sized broadcast. Shuffles carry
    (user, type, ts) triples then (from, to, count) — never payloads.

    Output: (from_type, to_type, n_trans, n_from, prob) with prob
    rounded 6dp.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        "n_from",
        F.round(F.col("n_trans") / F.col("n_from").cast("double"), 6).alias(
            "prob"
        ),
    )


def basket_lift(
    baskets: DataFrame,
    *,
    basket_col: str = "basket_id",
    item_col: str = "item",
    min_support: int = 2,
) -> DataFrame:
    """Pairwise market-basket association mining: support, confidence
    bounds and lift for every unordered item pair co-occurring in at
    least ``min_support`` baskets.

    lift = P(a,b) / (P(a)·P(b)) = n_pair · N / (n_a · n_b) with N the
    basket count — computed as one double expression over exact
    integer counts (engine-exact after 6dp rounding, the PMI
    discipline). Pair generation is the shared-basket self-join (the
    entity_jaccard/cooccurrence shape): pairs exist only where a
    co-occurrence does, never a cross join; item frequencies join
    back from a vocabulary-sized broadcast. A degenerate basket with
    f items emits f(f-1)/2 pairs — callers cap basket size upstream
    (same documented contract as the fingerprint max_df guard).

    Output: (item_a, item_b, n_pair, n_a, n_b, lift).
    """
    # b is referenced FIVE times (the eager basket count, both
    # self-join sides, and the item-frequency table behind each pair
    # column), so an expensive upstream view executes five times.
    # Caching it was MEASURED and REJECTED (r11): the replicas run as
    # concurrent stages on idle cores, while a cache serializes a
    # first-touch build barrier ahead of them — interleaved runs
    # showed +1.0 s with the pin (2.71 → 3.73 s min-of-4), the same
    # lesson as the curation/CC pin-forcing rejections. At cluster
    # scale callers should pass a pre-persisted basket frame instead.
    b = baskets.select(
        F.col(basket_col).alias("__b__"), F.col(item_col).alias("__i__")
    ).distinct()
    # N as a scalar subquery (count_distinct ≡ the old
    # select.distinct().count()): the basket count runs inside the lift
    # query — its aggregate overlaps the pair join on idle cores —
    # instead of as a separate eager job that executed the whole b
    # subtree once more up front (guide §1.2 — fewer actions).
    n_baskets = b.agg(
        F.count_distinct(F.col("__b__")).cast("double").alias("__n__")
    ).scalar()
    left = b.select(F.col("__b__"), F.col("__i__").alias("item_a"))
    right = b.select(F.col("__b__"), F.col("__i__").alias("item_b"))
    pairs = (
        left.join(right, "__b__")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    freq = b.groupBy("__i__").agg(F.count("*").alias("n_item"))
    fa = freq.select(F.col("__i__").alias("item_a"), F.col("n_item").alias("n_a"))
    fb = freq.select(F.col("__i__").alias("item_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_pair") * n_baskets)
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def rfm_segments(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    ref_date: str = "2024-02-01",
    n_bins: int = 5,
    method: str = "threshold",
) -> DataFrame:
    """RFM customer segmentation: per user — Recency (days from last
    event to ``ref_date``), Frequency (event count), Monetary (exact
    DECIMAL value sum) — each scored into ``n_bins`` quantile bins,
    concatenated into the classic segment code ("555" = recent,
    frequent, big spender). Higher is better on every axis.

    ``method='threshold'`` (default, the 100-TB path): bin boundaries
    are the exact interpolated percentiles computed windowlessly
    (`stats.global_percentile_values` — distributed rank + driver
    interpolation of the ≤2(n_bins−1) boundary rows), and each score
    is 1 + #boundaries strictly below the metric — a broadcast-free
    comparison expression, so the users table is aggregated once and
    never globally sorted. Ties all land in one bin (boundary-exact,
    engine-replayable). ``method='ntile'`` keeps the strict
    equal-population NTILE form (user_id tie-break) as the small-data
    twin — it funnels all users through one window task three times,
    so it exists for parity testing and modest tables only.

    Shape: one per-user aggregate (map-side combinable) shrinks the
    data to one row per user; threshold scoring adds three range
    exchanges of that users-sized table (boundary ranking) and zero
    shuffles for assignment. ``ref_date`` is an explicit literal —
    never now() — so reruns are identical.
    """
    per_user = events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.datediff(
            F.lit(ref_date).cast("date"),
            F.max(F.col(ts_col)).cast("date"),
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double"), 2
        ).alias("monetary"),
    )
    if method == "ntile":
        # unpartitioned ntile windows run over the PER-USER aggregate
        # (one row per user), not events; for catalogs where even that
        # is huge, method='threshold' is the windowless path
        w_r = Window.orderBy(
            F.col("recency_days").desc(), F.col("user_id").asc()
        )
        w_f = Window.orderBy(F.col("frequency").asc(), F.col("user_id").asc())
        w_m = Window.orderBy(F.col("monetary").asc(), F.col("user_id").asc())
        scored = per_user.select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            F.ntile(n_bins).over(w_r).alias("r_score"),
            F.ntile(n_bins).over(w_f).alias("f_score"),
            F.ntile(n_bins).over(w_m).alias("m_score"),
        )
    else:
        from hippollm_spark.operators.stats import global_percentile_values

        per_user = plan.barrier(per_user, eager=True)
        ps = [i / n_bins for i in range(1, n_bins)]

        def _score(col: str, ascending_is_good: bool):
            bvals = global_percentile_values(per_user, col, ps)
            bucket = F.lit(1)
            for bv in bvals:
                if bv is not None:
                    bucket = bucket + F.when(
                        F.col(col) > F.lit(bv), 1
                    ).otherwise(0)
            # ascending bucket 1..n_bins; recency inverts (recent=low
            # days=bucket 1 → best score n_bins)
            return (
                bucket if ascending_is_good else F.lit(n_bins + 1) - bucket
            ).cast("int")

        scored = per_user.select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            _score("recency_days", False).alias("r_score"),
            _score("frequency", True).alias("f_score"),
            _score("monetary", True).alias("m_score"),
        )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def session_paths(
    events: DataFrame,
    k: int = 20,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    step_col: str = "event_type",
    id_col: str = "event_id",
    gap_minutes: int = 30,
    max_steps: int = 10,
) -> DataFrame:
    """Top-k most common session paths ("view>click>purchase"): the
    product-analytics flow report.

    Sessionize by inactivity gap (lag + cumulative flag-sum, the batch
    twin of streaming session_window), then build each session's path
    with an ORDERED collect over the session window (ties broken by
    ``id_col`` — hash-grade), truncate to ``max_steps`` (unbounded
    paths make the distinct-path domain explode), and count.

    Shape: one shuffle on the user key serves both the sessionization
    windows and the path assembly (same partition spec); the path
    count aggregate then shuffles one row per session, and top-k is a
    TakeOrdered. Output: (path, n_steps, n_sessions, rank).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    flagged = events.withColumn(
        "__new__",
        F.when(
            gap.isNull() | (gap > F.expr(f"INTERVAL {gap_minutes} MINUTES")),
            1,
        ).otherwise(0),
    ).withColumn(
        "__sess__",
        F.sum("__new__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_sess = Window.partitionBy(user_col, "__sess__").orderBy(ts_col, id_col)
    paths = (
        flagged.withColumn(
            "__steps__",
            F.collect_list(step_col).over(
                w_sess.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .withColumn("__rn__", F.row_number().over(w_sess))
        .filter(F.col("__rn__") == 1)
        .select(
            F.concat_ws(
                ">", F.slice(F.col("__steps__"), 1, max_steps)
            ).alias("path"),
            F.least(F.size("__steps__"), F.lit(max_steps)).alias("n_steps"),
        )
    )
    counted = paths.groupBy("path", "n_steps").agg(
        F.count("*").alias("n_sessions")
    )
    # Top-k via orderBy+limit compiles to TakeOrderedAndProject —
    # per-partition heaps, never a single-partition sort of the whole
    # path domain (rank-then-filter would window ALL paths through one
    # task). `path` is unique per row (it determines n_steps), so the
    # (n_sessions DESC, path ASC) order is total. Rank over the ≤k
    # surviving rows is a broadcast self-join count (rank = 1 + #rows
    # strictly better) — k² comparisons on k≤hundreds, and the plan
    # stays entirely window-free.
    topk = counted.orderBy(F.desc("n_sessions"), F.asc("path")).limit(k)
    better = topk.select(
        F.col("n_sessions").alias("__ns__"), F.col("path").alias("__p__")
    )
    is_better = (F.col("__ns__") > F.col("n_sessions")) | (
        (F.col("__ns__") == F.col("n_sessions")) & (F.col("__p__") < F.col("path"))
    )
    return (
        topk.join(F.broadcast(better), is_better, "left")
        .groupBy("path", "n_steps", "n_sessions")
        .agg((F.count("__p__") + 1).cast("int").alias("rank"))
    )


def linear_attribution(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    touch_types: Sequence[str] = ("view", "click"),
    conversion_type: str = "purchase",
    value_col: str = "value",
    window_minutes: int = 60,
) -> DataFrame:
    """Multi-touch (linear) attribution: each conversion's value is
    split equally across the user's touch events in the preceding
    ``window_minutes``; per-channel credit = Σ value/n_touches.

    Shape: the touches↔conversions pairing is an event-time-bounded
    self-join per user key (the `click_attribution` state-expiry
    shape) — fanout is touches-within-window per conversion, never the
    full history; credit division round(value/n, 6) is a single exact
    division replayable by any engine; the channel rollup sums the
    rounded credits as exact DECIMAL (order-independent).

    Output: (channel, n_touches, n_conversions, credit).
    """
    touches = events.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("channel"),
        F.col(ts_col).alias("t_ts"),
        F.col(id_col).alias("t_id"),
    )
    convs = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("c_ts"),
        F.col(id_col).alias("c_id"),
        F.col(value_col).alias("c_value"),
    )
    bound = F.expr(f"INTERVAL {window_minutes} MINUTES")
    pairs = touches.join(
        convs,
        on=(
            (touches["u"] == convs["u"])
            & (F.col("t_ts") <= F.col("c_ts"))
            & (F.col("t_ts") >= F.col("c_ts") - bound)
        ),
    ).drop(convs["u"])
    w_conv = Window.partitionBy("u", "c_id")
    credited = pairs.withColumn(
        "__n__", F.count("*").over(w_conv)
    ).withColumn(
        "credit",
        F.round(F.col("c_value") / F.col("__n__"), 6).cast("decimal(18,6)"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.countDistinct("u", "c_id").alias("n_conversions"),
            F.round(F.sum("credit").cast("double"), 6).alias("credit"),
        )
        .orderBy("channel")
    )


def active_users(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    wau_days: int = 7,
    mau_days: int = 28,
    approx: bool = False,
    approx_rsd: float = 0.02,
) -> DataFrame:
    """DAU / WAU / MAU: distinct active users per day plus trailing
    7- and 28-day distinct actives — the product-health triptych.

    Rolling DISTINCT counts do not decompose into window sums (a user
    active twice in a week counts once), so the exact shape is: dedup
    to (user, day) pairs — the only row-count-sized shuffle — then
    range-join each pair onto the day grid it contributes to
    (fanout = wau/mau window width, a constant) and count distinct per
    day. The day grid is tiny and broadcast. At petabyte scale swap
    the exact distinct for mergeable HLL sketches per (user-bucket,
    day) — ``approx=True`` IS that swap (approx_count_distinct over
    the identical join shape, rsd=`approx_rsd`): the shuffle carries
    KB-sized sketches instead of user ids, at bounded relative error.
    The default stays exact and oracle-checkable.

    Output: (day TIMESTAMP, dau, wau, mau) for every day present.
    """
    ud = (
        events.select(
            F.col(user_col).alias("u"),
            F.datediff(
                F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
        .distinct()
    )
    days = ud.select(F.col("d").alias("day_idx")).distinct()
    cd = (
        (lambda c: F.approx_count_distinct(c, rsd=approx_rsd))
        if approx
        else F.countDistinct
    )
    dau = ud.groupBy(F.col("d").alias("day_idx")).agg(cd("u").alias("dau"))
    joined_w = ud.join(
        F.broadcast(days),
        (F.col("d") <= F.col("day_idx"))
        & (F.col("d") > F.col("day_idx") - wau_days),
    )
    wau = joined_w.groupBy("day_idx").agg(cd("u").alias("wau"))
    joined_m = ud.join(
        F.broadcast(days),
        (F.col("d") <= F.col("day_idx"))
        & (F.col("d") > F.col("day_idx") - mau_days),
    )
    mau = joined_m.groupBy("day_idx").agg(cd("u").alias("mau"))
    return (
        dau.join(wau, "day_idx")
        .join(mau, "day_idx")
        .select(
            # TIMESTAMP, not DATE: pandas reads parquet/duckdb DATEs as
            # Timestamps, so a DATE here would canon-hash differently
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_idx"))
            .cast("timestamp")
            .alias("day"),
            "dau",
            "wau",
            "mau",
        )
    )
