"""Structured Streaming wrappers for incremental ingest.

The reference has no streaming at all (SURVEY.md §2.10) — ingestion is
a per-document batch loop. This module provides the streaming twins of
the batch event queries in ``__spark_entry__`` plus an incremental
annotation source: the same logical plans, with watermarks for late
data, runnable off any streaming source (file source in tests, Kafka in
production — swap ``readStream.format``).

Batch/stream parity: ``windowed_counts``/``sessionize`` accept either a
static or streaming DataFrame; the driver-contract batch queries
(events_windowed / sessionization) are the DuckDB-checkable versions of
exactly these aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippollm_spark import plan

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-based streaming source over parquet event drops (timestamps
    already µs; use ``__spark_entry__._events`` conversion when pointing
    at the raw ns-typed testdata)."""
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding) window counts/sums per event type with a
    watermark for late data. Output: (window_start, window_end,
    event_type, n_events, sum_value)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact DECIMAL sum: a raw double sum is accumulation-order-
            # dependent and would differ run-to-run / engine-to-engine
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user session aggregation with a dynamic session window
    (stream-native twin of the batch lag+cumsum sessionization).
    Output: (user_id, session_start, session_end, n_events)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming aggregation to completion against a finite file
    source and land results in an in-memory table (test/bench harness)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def enrich_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    *,
    left_key: str = "user_id",
    right_key: str = "c_custkey",
    how: str = "inner",
    broadcast_dim: bool = False,
) -> DataFrame:
    """Stream-static dimension enrichment: join each event to a static
    (or slowly-refreshed) dimension table.

    A broadcast dimension is the ideal shape here — the streaming side
    never shuffles, and the dim is re-broadcast per micro-batch (which
    picks up dimension updates between batches). But the dimension's
    size is the CALLER's knowledge, not this function's: forcing the
    hint on an sf-growing table (customer grows ~15M rows at sf100)
    bypasses autoBroadcastJoinThreshold and OOMs executors at scale.
    Default is therefore no hint — the planner broadcasts while the
    dim's statistics fit the threshold and shuffles past it. Callers
    that KNOW the dim is bounded (a code table, a config dim) pass
    broadcast_dim=True to pin the zero-shuffle plan."""
    if broadcast_dim:
        dim = F.broadcast(dim)
    return events.join(dim, events[left_key] == dim[right_key], how)


def segment_windowed_revenue(
    events: DataFrame,
    customers: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed per-market-segment event revenue over the enriched
    stream (enrichment join BEFORE the watermarked aggregation — the
    join is stateless, so it adds no streaming state). Output:
    (window_start, c_mktsegment, n_events, sum_value)."""
    enriched = enrich_with_dimension(
        events, customers.select("c_custkey", "c_mktsegment")
    )
    if enriched.isStreaming:
        enriched = enriched.withWatermark("ts", watermark)
    return (
        enriched.groupBy(F.window("ts", window).alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            # exact DECIMAL sum: a raw double sum is accumulation-order-
            # dependent and would differ run-to-run / engine-to-engine
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )


def click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream attribution join: each purchase matched to every
    click by the same user in the preceding ``within`` interval.

    In streaming mode both sides carry watermarks and the join
    condition bounds event-time distance, which is what lets Spark
    expire buffered state: a click older than watermark+within can
    never match a future purchase and is dropped. Without the time
    bound the state store grows forever — the canonical stream-stream
    join pitfall. Works identically on static DataFrames (the batch
    twin is a plain interval join), which is how it is parity-tested.

    Output: (user_id, click_id, purchase_id, click_ts, purchase_ts,
    delay_us BIGINT — exact integer microseconds).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within}")
        ),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        (
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("delay_us"),
    )


def incremental_rollup(
    stream: DataFrame,
    rollup_path: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    checkpoint: str | None = None,
):
    """Continuously-maintained rollup table (the 'hypertable continuous
    aggregate' pattern): a windowed count/sum aggregate whose state is
    UPSERTED into a parquet table partitioned by window date, via
    ``foreachBatch`` in update mode.

    Each micro-batch emits only the (window, event_type) keys whose
    totals changed; the merge rewrites only the date partitions those
    keys touch (dynamic partition overwrite) — at 100 TB of history a
    late event costs one partition rewrite, never a full-table scan.
    The watermark bounds both streaming state and how far back a
    partition can still change; older partitions are immutable and
    compactable (see operators.layout.compact_table).

    Returns the StreamingQuery; call ``processAllAvailable()`` to drive
    a finite source in tests.
    """

    agg = windowed_counts(stream, window=window, watermark=watermark)

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        upd = batch.withColumn("date", F.to_date("window_start")).cache()
        try:
            keys = [r["date"] for r in upd.select("date").distinct().collect()]
            try:
                current = spark.read.parquet(rollup_path).filter(
                    F.col("date").isin(keys)
                )
                merged = current.join(
                    upd.select("window_start", "event_type").distinct(),
                    ["window_start", "event_type"],
                    "left_anti",
                ).unionByName(upd)
            except Exception:
                merged = upd  # first batch: table does not exist yet
            # Materialize before writing: the plan reads the same path
            # the write replaces (read-your-own-table overwrite hazard).
            merged = plan.barrier(merged, eager=True)
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (
                    merged.repartition("date")
                    .write.mode("overwrite")
                    .partitionBy("date")
                    .parquet(rollup_path)
                )
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        finally:
            upd.unpersist()

    writer = agg.writeStream.outputMode("update").foreachBatch(_merge)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def ohlc_stream(
    events: DataFrame,
    *,
    bucket: str = "1 hour",
    watermark: str = "10 minutes",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of `temporal.ohlc_bars`: per tumbling bucket —
    open/high/low/close/n/mean over the value column, watermarked for
    late data. min_by/max_by over the padded µs‖id key are plain
    aggregates, so the state per open window is five scalars — this
    runs in update or append mode with bounded state, no sort.

    Accepts a static frame too (parity testing: same plan minus the
    watermark); batch results match `ohlc_bars` exactly.
    """
    from hippollm_spark.operators.temporal import padded_order_key

    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    order = padded_order_key(
        F.col("ts"), id_col, dict(events.dtypes).get(id_col) if id_col else None
    )
    v = F.col(value_col)
    return (
        events.filter(v.isNotNull())
        .groupBy(F.window("ts", bucket).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.round(
                F.sum(v.cast("decimal(18,6)")).cast("double") / F.count("*"),
                6,
            ).alias("mean_value"),
        )
        .select(F.col("w.start").alias("bucket"), "n", "open", "high", "low",
                "close", "mean_value")
    )
