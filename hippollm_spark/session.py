"""SparkSession factory tuned for the engine.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The same
builder config is what we would ship cluster-side (AQE on, Arrow on,
UTC session TZ); only master/memory are environment-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_heap() -> str:
    """48g, or half the machine's memory when that is less: a heap
    larger than the RAM never collects before the machine runs out."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48 * 1024, total_kb // 2048)}m"


_DEFAULTS = {
    # AQE: runtime coalesce + skew-join mitigation — essential at scale,
    # harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp comparison against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Keep partition count ~ cores locally; on a cluster this is set to
    # ~2-3x total cores (AQE coalesces down when partial aggs shrink).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Always honor bucketing on bucketed tables: the auto rule
    # (DisableUnnecessaryBucketedScan) ignores bucket PRUNING, so a
    # `term IN (...)` probe of the bucketed postings index would scan
    # all buckets with it left on. Our bucketed tables exist precisely
    # for pruning + co-located joins, so auto-disable never helps here.
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap(),
    # InferFiltersFromGenerate injects `size(arr)>0 AND isnotnull(arr)`
    # under every explode. Every Generate in this engine explodes a
    # COMPUTED array (shingles/n-grams/bands: tokenizer + zip_with
    # chains), so the inferred filter re-evaluates that whole expression
    # twice per row — and Catalyst then pushes it through the
    # parallelizing round-robin exchange onto the single-file parquet
    # scan task (measured r11: a 918 ms single-task stage at the head of
    # jaccard_dup_pairs vs ~30 ms without the rule; steady-state pair
    # query 2.5 s → 1.5 s). The filter can never prune for us anyway:
    # the exploded arrays are non-null/non-empty by construction and the
    # Generate discards such rows itself. Scale-independent planner
    # choice, not a local[32] tune — at 100 TB the doubled generator
    # child is doubled CPU on every scan core. (guide §1.4/§2.4: plan
    # inspection; §4.4-adjacent: stop the optimizer duplicating
    # expensive expressions.)
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # 64 MB broadcast budget (default 10 MB): routine on executors with
    # gigabytes of heap, and what lets AQE's RUNTIME sizes — not
    # per-site hints — pick broadcast for mid-size filtered dimensions
    # (round 9 dropped the forced F.broadcast on every sf-growing dim:
    # the STANDARD-parts join in tpch_q9 is ~12 MB at sf10, just over
    # the old threshold, and regressed 3.1 s → 6.5 s as an SMJ until
    # the budget covered it; genuinely huge dims still shuffle).
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Reap reliable-checkpoint files once their frame is unreferenced
    # (plan.barrier writes them when a checkpoint dir is set); without
    # this, repeated library calls leave every checkpoint on disk.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def get_spark(app_name: str = "hippollm_spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drop_table(spark, name: str) -> None:
    """Drop a managed table AND its orphaned warehouse directory.

    With an in-memory catalog (no Hive metastore) the warehouse dir
    outlives the session: a rerun's ``saveAsTable(mode="overwrite")``
    then fails with LOCATION_ALREADY_EXISTS because the new catalog
    has never heard of the table but its files are on disk. Every
    index saver calls this first — idempotent re-builds are part of
    the operator contract.
    """
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = jvm.org.apache.hadoop.fs.Path(warehouse, name.lower())
    fs = path.getFileSystem(conf)
    if fs.exists(path):
        fs.delete(path, True)
