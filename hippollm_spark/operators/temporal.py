"""Temporal joins Spark lacks natively: as-of join and range join.

As-of join (each left row matched to the latest right row with
``right.ts <= left.ts``, per key) is implemented with the union-tag
trick: tag both sides, union, and carry the last right-side payload
forward with a running ``last_value(ignorenulls)`` window per key.
One shuffle on (key), no join at all — this beats the naive
join+filter+rank (which shuffles both sides AND materializes every
candidate pair) and stays exact.

Range join: bucketize the range key to turn an inequality join into an
equi-join on bucket + residual filter — the standard Spark shape for
interval matching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hippollm_spark import plan


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "user_id",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row: columns of the most recent right row with
    ``right.on <= left.on``, matched per ``by`` key. Left rows with no
    prior right row keep NULLs.

    Ties on the timestamp: the right row sorts BEFORE the left row at
    the same instant (tag 0 < 1), i.e. `<=` semantics, matching
    ``pd.merge_asof`` and DuckDB ``ASOF JOIN``. Among multiple right
    rows at the SAME instant, pass ``tiebreak`` (a right column name,
    e.g. its unique id) to deterministically pick the greatest —
    otherwise partition order decides.
    """
    by = [by] if isinstance(by, str) else list(by)
    right_cols = right_cols or [c for c in right.columns if c not in by + [on]]
    if tiebreak is not None and tiebreak not in right_cols:
        right_cols = right_cols + [tiebreak]

    lt = left.withColumn("__side__", F.lit(1))
    rt = right.select(
        *by, on, *[F.col(c).alias(f"{c}{suffix}") for c in right_cols]
    ).withColumn("__side__", F.lit(0))

    unioned = lt.unionByName(rt, allowMissingColumns=True)
    order = [F.col(on).asc(), F.col("__side__").asc()]
    if tiebreak is not None:
        order.append(F.col(f"{tiebreak}{suffix}").asc_nulls_first())
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"__fill_{c}__")
            for c in right_cols
        ],
    )
    out = carried.filter(F.col("__side__") == 1).drop(
        "__side__", *[f"{c}{suffix}" for c in right_cols]
    )
    for c in right_cols:
        out = out.withColumnRenamed(f"__fill_{c}__", f"{c}{suffix}")
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """point-in-interval join via bucketization: explode each right
    interval into the buckets it covers, equi-join on bucket, then the
    exact residual filter. Turns the O(n·m) inequality join into a
    hash join whose fanout is interval_width/bucket_width."""
    lb = left.withColumn("__b__", (F.col(left_point) / bucket_width).cast("long"))
    rb = right.withColumn(
        "__bs__", (F.col(right_start) / bucket_width).cast("long")
    ).withColumn("__be__", (F.col(right_end) / bucket_width).cast("long"))
    rexp = rb.withColumn(
        "__b__", F.explode(F.sequence(F.col("__bs__"), F.col("__be__")))
    ).drop("__bs__", "__be__")
    return (
        lb.join(rexp, on="__b__", how=how)
        .filter(
            (F.col(left_point) >= F.col(right_start))
            & (F.col(left_point) <= F.col(right_end))
        )
        .drop("__b__")
    )


def gap_fill(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    by: str | list[str] = "user_id",
    step: str = "1 hour",
    value_cols: list[str] | None = None,
    fill: str = "locf",
) -> DataFrame:
    """Regularize an irregular time series: emit one row per ``step``
    tick per key from each key's min to max bucket, filling value
    columns by LOCF (last observation carried forward) or nulls.

    Shape: per-key bounds (tiny agg) → `sequence()` of ticks +
    explode (no shuffle beyond the agg) → left join observations
    aggregated per tick → one window per key for the carry-forward
    (`last(ignorenulls)`). Everything stays JVM-side; at 100 TB the
    cost is one shuffle of the observations plus one of the generated
    ticks — tick count is bounded by (span/step)·keys, independent of
    observation density.

    Output: key cols, ``tick`` (timestamp), value cols (filled),
    ``n_obs`` (observations in that tick's bucket; 0 for generated
    gaps). Multiple observations in one bucket aggregate to their last
    NON-NULL value by ts — a NULL value is a missing measurement, not
    an observation, so it can neither win the bucket nor shadow a
    valid same-bucket reading (stream-LOCF: each tick shows the last
    valid observation up to its end — pandas ``resample().last()`` /
    DuckDB ``arg_max`` semantics; round 11, found by the sf3 sweep:
    the previous last-ROW pick resurrected a PREVIOUS day's value over
    a valid same-day one whenever the day ended on a null). Equal-ts
    ties break on the value itself (struct max — content-determined,
    layout-independent); value columns must be orderable types.
    """
    keys = [by] if isinstance(by, str) else list(by)
    vals = value_cols or [
        c for c in df.columns if c not in keys and c != ts_col
    ]
    step_expr = f"INTERVAL {step}"
    # generic bucketing: floor to step via window() start
    win = F.window(F.col(ts_col), step)
    obs = df.select(
        *keys,
        win["start"].alias("tick"),
        F.col(ts_col).alias("__ts__"),
        *[F.col(v) for v in vals],
    )
    per_tick = obs.groupBy(*keys, "tick").agg(
        F.count("*").alias("n_obs"),
        *[
            # last non-null by ts: max over (ts, value) structs of the
            # non-null rows — one hash aggregate with map-side partial
            # combine, no per-bucket sort window
            F.max(
                F.when(
                    F.col(v).isNotNull(),
                    F.struct(F.col("__ts__").alias("t"), F.col(v).alias("v")),
                )
            )["v"].alias(v)
            for v in vals
        ],
    )
    bounds = per_tick.groupBy(*keys).agg(
        F.min("tick").alias("__lo__"), F.max("tick").alias("__hi__")
    )
    ticks = bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("__lo__"), F.col("__hi__"), F.expr(step_expr))
        ).alias("tick"),
    )
    joined = ticks.join(per_tick, [*keys, "tick"], "left").withColumn(
        "n_obs", F.coalesce(F.col("n_obs"), F.lit(0))
    )
    if fill == "locf":
        w_fill = (
            Window.partitionBy(*keys)
            .orderBy("tick")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        joined = joined.select(
            *keys,
            "tick",
            "n_obs",
            *[
                F.last(F.col(v), ignorenulls=True).over(w_fill).alias(v)
                for v in vals
            ],
        )
    return joined.select(*keys, "tick", *vals, "n_obs")


def concurrency_profile(
    intervals: DataFrame,
    *,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Sweep-line concurrency: for a table of [start, end) intervals,
    the number of intervals open at every boundary instant — the
    classic "max concurrent sessions" analysis.

    Each interval unpivots to (+1 at start, -1 at end); the deltas are
    pre-aggregated to one NET delta per distinct boundary instant
    (map-side combinable, and it makes the subsequent prefix sum
    deterministic — no within-timestamp ordering exists to disagree
    about); a running sum ordered by ts then gives the open count
    AFTER each boundary. Ends cancel starts at the same instant, i.e.
    [start, end) semantics: a session ending exactly when another
    starts never overlaps it.

    Shape: the unpivot doubles rows map-side; the only exchange is the
    window's partition (per ``by`` group, or a single partition when
    global — acceptable because boundary rows are 2/interval, and a
    global profile is inherently a sequential prefix sum; for 100 TB
    use a ``by`` grouping, e.g. per day, which is what the entry query
    does: the prefix sum is then parallel across days and exact within
    each, days being closed under session containment in the fixture).

    Intervals with a NULL boundary are DROPPED: [start, end) semantics
    are undefined for an unbounded side, and counting such rows is
    engine-dependent (a NULL boundary instant sorts FIRST in Spark's
    window and LAST in DuckDB's, silently skewing the whole profile in
    opposite directions — caught by the sf1 sweep over a NULL-bearing
    generated table).

    Output: by-cols + (ts, concurrent INT).
    """
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    intervals = intervals.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    )
    deltas = intervals.select(
        *by,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(F.col(end_col).alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("e")
    ).select(*by, "e.ts", "e.delta")
    net = deltas.groupBy(*(by + ["ts"])).agg(F.sum("delta").alias("__net__"))
    w_run = (
        (Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1)))
        .orderBy(F.col("ts").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return net.select(
        *by,
        "ts",
        F.sum("__net__").over(w_run).cast("int").alias("concurrent"),
    )


def max_concurrency(
    intervals: DataFrame,
    *,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Peak concurrent open intervals per group (sweep-line max)."""
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    prof = concurrency_profile(
        intervals, start_col=start_col, end_col=end_col, by=by or None
    )
    if by:
        return prof.groupBy(*by).agg(F.max("concurrent").alias("peak"))
    return prof.agg(F.max("concurrent").alias("peak"))


def rolling_zscore(
    df: DataFrame,
    value_col: str,
    *,
    by: str | Sequence[str] = "user_id",
    order_col: str = "ts",
    tiebreak_col: str = "event_id",
    lookback: int = 10,
    min_obs: int = 3,
    threshold: float = 3.0,
) -> DataFrame:
    """Rolling-window anomaly score: each observation's z-score
    against the mean/stddev of its OWN preceding ``lookback``
    observations (per group, time-ordered) — the streaming-friendly
    time-series outlier test, windowed so a level shift re-baselines
    itself.

    Numeric discipline: observations are quantized to integer
    µ-units; the window sums of v and v² are exact integers (BIGINT /
    DECIMAL(38,0) — order-independent, unlike a double window sum,
    whose frame accumulation order is engine-defined; and unlike
    DECIMAL×DECIMAL, whose result precision/scale rules differ
    between Spark and DuckDB). Mean/variance/z are assembled from the
    exact sums in DOUBLE with a fixed expression shape and z rounded
    to 6dp. Rows with fewer than ``min_obs`` prior observations or
    zero variance get NULL z (never ±inf). The frame excludes the
    current row, so an anomaly cannot mask itself.

    One shuffle (the per-group window); at 100 TB the group key is
    the parallelism unit, same contract as every window here.

    Output: input columns + (roll_n, z, is_anomaly BOOLEAN —
    null z ⇒ false).
    """
    by = [by] if isinstance(by, str) else list(by)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(order_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(-lookback, -1)
    )
    v_e6 = F.round(F.col(value_col) * 1_000_000.0, 0).cast("long")
    v_dec = v_e6.cast("decimal(19,0)")
    s1 = F.sum(v_e6).over(w)
    s2 = F.sum(v_dec * v_dec).over(w)  # decimal(38,0): exact squares
    n = F.count(value_col).over(w)
    mean = s1.cast("double") / (n * 1_000_000.0)
    var = (
        s2.cast("double") / 1e12
        - (s1.cast("double") / 1_000_000.0)
        * (s1.cast("double") / 1_000_000.0)
        / n
    ) / (n - 1)
    z = F.round((F.col(value_col) - mean) / F.sqrt(var), 6)
    z_ok = (n >= min_obs) & (var > 0)
    return (
        df.withColumn("roll_n", n)
        .withColumn("z", F.when(z_ok, z))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z")) > threshold, F.lit(False)),
        )
    )


def ewma_latest(
    df: DataFrame,
    value_col: str,
    *,
    by: str | Sequence[str] = "user_id",
    order_col: str = "ts",
    tiebreak_col: str = "event_id",
    alpha_num: int = 1,
    alpha_den: int = 4,
) -> DataFrame:
    """Per-key exponentially-weighted moving average, final value —
    the "current level" estimate behind rate baselines and staleness
    scoring: s0 = x0, s_t = alpha*x_t + (1-alpha)*s_{t-1} with
    alpha = alpha_num/alpha_den, evaluated in exact fixed-point
    integer arithmetic (values quantized to micro-units, each step one
    sign-wrapped truncating division) so the sequential recurrence —
    which floats would smear with compounding ulp error — is
    bit-identical on any engine; the DuckDB oracle replays it with
    ``list_reduce`` over the identically-sorted value list.

    Shape: one groupBy collecting each key's (order, tiebreak, value)
    triples, one array_sort, one linear aggregate() fold — per-key
    history must fit in one array (the same per-key bound every
    collect-based op here carries; an unbounded stream keeps only the
    scalar s via the stateful streaming form).

    The in-lambda truncating division is built from exact building
    blocks ((|t| − |t| mod d)/d, sign reapplied): |t| stays far below
    2^53, so the double intermediate is exact, and truncation matches
    DuckDB's `//` through the positive-domain wrap.

    NULL observations are SKIPPED (the standard definition: the level
    updates only on observed values; a sensor gap does not decay or
    reset the estimate). Without the explicit filter the semantics
    were engine-dependent — Spark's `aggregate` NULL-accumulator
    restart silently RESET the level at each gap while DuckDB's
    `list_reduce` poisoned the whole fold — caught by the sf1 sweep
    over a generated table with NULL values (the driver tables have
    none, so the contract hash never saw it). `n_obs` counts observed
    values only.

    Output: (by…, n_obs, ewma DOUBLE 6dp).
    """
    by = [by] if isinstance(by, str) else list(by)
    a, d = int(alpha_num), int(alpha_den)
    b = d - a
    v_e6 = F.round(F.col(value_col) * 1_000_000.0, 0).cast("long")
    df = df.filter(F.col(value_col).isNotNull())
    grouped = df.groupBy(*by).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    F.col(tiebreak_col).alias("t"),
                    v_e6.alias("v"),
                )
            )
        ).alias("__seq__")
    )
    vals = F.transform(F.col("__seq__"), lambda s: s["v"])

    def _tdiv(t):
        abs_t = F.abs(t)
        q = ((abs_t - F.pmod(abs_t, F.lit(d))) / d).cast("long")
        return F.when(t < 0, -q).otherwise(q)

    folded = F.aggregate(
        vals,
        F.lit(None).cast("long"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(
            _tdiv(x * a + acc * b)
        ),
    )
    return grouped.select(
        *by,
        F.size("__seq__").alias("n_obs"),
        F.round(folded / 1_000_000.0, 6).alias("ewma"),
    )


#: 2^62 — added to µs epochs and numeric ids before zero-padding so
#: negative values order by magnitude inside the string key (see
#: ohlc_bars docstring). Covers |µs| up to year ±146k and any id
#: above −2^62; the biased value is ≤19 digits, within the 20-pad.
ORDER_KEY_BIAS = 4_611_686_018_427_387_904


def padded_order_key(ts, id_col: str | None, id_type: str | None):
    """Zero-padded, sign-safe "µs-epoch‖id" string key shared by
    `ohlc_bars` and `streaming.ohlc_stream` (and the DuckDB oracle,
    which mirrors the same bias + pad)."""
    order = F.lpad(
        (F.unix_micros(ts.cast("timestamp")) + F.lit(ORDER_KEY_BIAS))
        .cast("string"),
        20,
        "0",
    )
    if id_col:
        if id_type == "string":
            id_part = F.col(id_col)
        else:
            id_part = F.lpad(
                (F.col(id_col).cast("long") + F.lit(ORDER_KEY_BIAS))
                .cast("string"),
                20,
                "0",
            )
        order = F.concat(order, id_part)
    return order


def ohlc_bars(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    by: str | list[str] | None = None,
    bucket: str = "hour",
    id_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (group, time bucket)
    — open (value at earliest row), high, low, close (value at latest
    row), n, and an exact-DECIMAL vwap-style mean.

    Determinism: within-bucket ordering ties on ``ts_col`` are broken
    by ``id_col`` (required for hash-grade results when timestamps can
    collide — e.g. multiple events in the same microsecond). Open and
    close use MIN/MAX_BY over a zero-padded "µs-epoch‖id" string key
    (a struct key would be natural, but DuckDB's min_by cannot order
    by one — the padded string totally orders identically in both
    engines) — one hash aggregate, no window and no sort, so the
    shuffle carries one row per bar regardless of input size (the
    windowed first/last alternative sorts every group).

    Sign safety: both key parts are biased by +2^62 before padding, so
    pre-1970 timestamps and negative numeric ids still order by value
    (a raw '-'-prefixed string would sort before all digits), and the
    pad width 20 covers the full biased long domain — lpad TRUNCATES
    overlong strings, so a 12-wide pad silently collapsed ids above
    ~1e12. String-typed ids are appended raw (lexicographic order,
    byte-identical across engines).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    # NTZ-safe: session TZ is pinned UTC, so the cast keeps the instant
    order = padded_order_key(
        F.col(ts_col), id_col, dict(df.dtypes).get(id_col) if id_col else None
    )
    v = F.col(value_col)
    dec = v.cast("decimal(18,6)")
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys, b)
        .agg(
            F.count("*").alias("n"),
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.round(
                F.sum(dec).cast("double") / F.count("*"), round_to
            ).alias("mean_value"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    value_col: str,
    *,
    by: str | list[str] = "user_id",
    order_col: str = "ts",
    tiebreak_col: str = "event_id",
    round_to: int = 6,
) -> DataFrame:
    """Offline mean-shift changepoint score per key: the classic CUSUM
    statistic max_t |S_t| with S_t = Σ_{i≤t}(x_i − μ) over the key's
    time-ordered series, plus the first index attaining it (the most
    likely change location).

    Exact fixed-point: values quantize to µ-units; μ is a sign-wrapped
    truncating division (identical on Spark and DuckDB's `//` through
    the positive-domain wrap); S_t = prefix_sum − i·μ is then pure
    integer arithmetic in ONE window pass — no per-row fold, no float
    drift, hash-grade across engines.

    Shape: one window (prefix sum + row index) over the key sort + one
    aggregate; the same single shuffle `exact_percentiles` pays.
    Output: (by…, n_obs, cusum_max 6dp, change_pos INT 1-based).
    """
    keys = [by] if isinstance(by, str) else list(by)
    v_e6 = F.round(F.col(value_col) * 1_000_000.0, 0).cast("long")
    w_ord = Window.partitionBy(*keys).orderBy(order_col, tiebreak_col)
    w_all = Window.partitionBy(*keys)
    rows = df.select(
        *keys,
        v_e6.alias("__v__"),
        F.row_number().over(w_ord).alias("__i__"),
        F.sum(v_e6).over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__pre__"),
        F.sum(v_e6).over(w_all).alias("__tot__"),
        F.count("*").over(w_all).alias("__n__"),
    )
    tot, n = F.col("__tot__"), F.col("__n__")
    abs_tot = F.abs(tot)
    mu_q = ((abs_tot - F.pmod(abs_tot, n)) / n).cast("long")
    mu = F.when(tot < 0, -mu_q).otherwise(mu_q)
    s = F.col("__pre__") - F.col("__i__") * mu
    scored = rows.select(*keys, "__i__", "__n__", F.abs(s).alias("__abs__"))
    w_key = Window.partitionBy(*keys)
    flagged = scored.withColumn("__mxw__", F.max("__abs__").over(w_key))
    return (
        flagged.groupBy(*keys)
        .agg(
            F.max("__n__").alias("n_obs"),
            F.max("__abs__").alias("__mx__"),
            F.min(
                F.when(F.col("__abs__") == F.col("__mxw__"), F.col("__i__"))
            ).alias("change_pos"),
        )
        .select(
            *keys,
            "n_obs",
            F.round(F.col("__mx__") / 1_000_000.0, round_to).alias(
                "cusum_max"
            ),
            F.col("change_pos").cast("int").alias("change_pos"),
        )
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    period: str = "dow",
    round_to: int = 6,
) -> DataFrame:
    """Seasonal index per calendar bucket (day-of-week or hour-of-day):
    index = bucket mean / overall mean — the multiplicative
    seasonality estimate behind baselining and anomaly thresholds
    ("Sundays run at 0.7x").

    Means are exact DECIMAL sums over the same 6dp value grid divided
    once at the end; the overall mean comes from summing the bucket
    sums (no second scan). One map-side-combinable aggregate.

    Output: (bucket INT, n, mean_value, seasonal_index) — bucket is
    1-7 for dow (ISO-style via dayofweek: 1=Sunday) or 0-23 for hour.
    """
    if period == "dow":
        b = F.dayofweek(F.col(ts_col))
    elif period == "hour":
        b = F.hour(F.col(ts_col))
    else:
        raise ValueError(f"unknown period {period!r}")
    dec = F.col(value_col).cast("decimal(18,6)")
    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum(dec).alias("__s__"))
    )
    w = Window.partitionBy(F.lit(1))
    tot = per.select(
        "bucket",
        "n",
        "__s__",
        F.sum("__s__").over(w).alias("__st__"),
        F.sum("n").over(w).alias("__nt__"),
    )
    mean_b = F.col("__s__").cast("double") / F.col("n").cast("double")
    mean_all = F.col("__st__").cast("double") / F.col("__nt__").cast("double")
    return tot.select(
        "bucket",
        "n",
        F.round(mean_b, round_to).alias("mean_value"),
        F.round(mean_b / mean_all, round_to).alias("seasonal_index"),
    )


def autocorrelation(
    df: DataFrame,
    value_col: str,
    lags: list[int],
    *,
    by: str | list[str] = "user_id",
    order_col: str = "ts",
    tiebreak_col: str = "event_id",
    round_to: int = 6,
) -> DataFrame:
    """Lag-k autocorrelation per series (the ACF values behind
    seasonality detection and AR-order picking): for each requested
    lag, the Pearson correlation of (x_t, x_{t−k}) pairs over the
    key's time-ordered values.

    One window pass produces every lagged column; the sufficient
    statistics per (key, lag) accumulate as exact DECIMAL sums — the
    `linear_fit` recipe — so results are order-independent and
    engine-replayable. Pair population is the overlap (n−k rows),
    pairwise-complete like statsmodels' acf(adjusted=False) numerator
    convention but computed as a plain correlation over the pairs.

    Output: (by…, lag, n_pairs, acf 6dp); NULL when either margin is
    constant or n_pairs < 2.
    """
    keys = [by] if isinstance(by, str) else list(by)
    # Pin the window exchange's partition count (session conf, NOT a
    # local constant): AQE's byte-based coalescing sees a few MB of
    # shuffle output and folds the window stage to ONE partition = one
    # core for the whole lag sort (measured r12: a 1.4 s single-task
    # stage owns value_acf). An explicit repartition(N, keys) satisfies
    # the window's required clustering with a non-coalescible exchange,
    # so each key sorts in its own task — same rows per key, identical
    # results (the plan.spread lesson, shuffle-stage flavor; guide
    # §2.5: bytes-small is not cpu-small).
    df = df.repartition(plan.shuffle_partitions(df.sparkSession), *keys)
    w = Window.partitionBy(*keys).orderBy(order_col, tiebreak_col)
    cur = F.col(value_col).cast("decimal(18,6)")
    cols = [cur.alias("__x__")]
    for k in lags:
        cols.append(F.lag(cur, k).over(w).alias(f"__l{k}__"))
    base = df.select(*keys, *cols)
    # ONE aggregate for every lag (conditional sums over the same
    # window output — a per-lag filter+agg would rescan the sorted
    # frame len(lags) times; measured 2x at sf0.1 with two lags)
    aggs = []
    for k in lags:
        x = F.col("__x__")
        y = F.col(f"__l{k}__")
        ok = y.isNotNull()
        aggs += [
            F.sum(F.when(ok, 1).otherwise(0)).alias(f"__n_{k}__"),
            F.sum(F.when(ok, x)).alias(f"__sx_{k}__"),
            F.sum(F.when(ok, y)).alias(f"__sy_{k}__"),
            F.sum(F.when(ok, x * y)).alias(f"__sxy_{k}__"),
            F.sum(F.when(ok, x * x)).alias(f"__sxx_{k}__"),
            F.sum(F.when(ok, y * y)).alias(f"__syy_{k}__"),
        ]
    wide = base.groupBy(*keys).agg(*aggs)
    structs = []
    for k in lags:
        n_l = F.col(f"__n_{k}__")
        n = n_l.cast("double")
        sx = F.col(f"__sx_{k}__").cast("double")
        sy = F.col(f"__sy_{k}__").cast("double")
        sxy = F.col(f"__sxy_{k}__").cast("double")
        sxx = F.col(f"__sxx_{k}__").cast("double")
        syy = F.col(f"__syy_{k}__").cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        acf = F.when(
            (vx > 0) & (vy > 0) & (n_l > 1), cov / F.sqrt(vx * vy)
        )
        structs.append(
            F.struct(
                F.lit(k).alias("lag"),
                n_l.alias("n_pairs"),
                F.round(acf, round_to).alias("acf"),
            )
        )
    return (
        wide.select(*keys, F.explode(F.array(*structs)).alias("p"))
        .select(*keys, "p.*")
        .filter(F.col("n_pairs") > 0)
    )
