"""SparkSession factory.

The reference delegates all session setup to Databricks defaults
(`k8s/resources/resources_2/databricks_cluster_notebooks.tf:11-48`,
`spark.master local[*, 4]`). Our engine owns the session: AQE on, sane
shuffle partitioning, Arrow for any pandas interchange, UTC session time
so results are reproducible against the DuckDB oracle.

Scale notes (100 TB / 1000 executors):
- `spark.sql.adaptive.enabled` + coalescePartitions + skewJoin let the
  runtime re-plan shuffles from actual map-output sizes, which is the
  only partition-count policy that survives a 1000x scale-up.
- `spark.sql.shuffle.partitions` here is only the *initial* number; AQE
  coalesces down (local tests) or the cluster config overrides up.
- `spark.sql.adaptive.coalescePartitions.minPartitionSize` is 64k, not
  Spark's 1 MB. AQE's default `parallelismFirst` rule already aims at
  the session's `defaultParallelism`, but the 1 MB floor overrode it:
  the medallion silver shuffle (~1.9 MB for 500k rows) was coalesced
  into one task, so distinct + sort + parquet encode ran on one core.
  Once a shuffle exceeds floor x cores the 64 MB advisory size governs
  and nothing changes, so the floor only matters for small shuffles.
- We never hard-code `coalesce(1)` in the engine (the reference does —
  `bronzeToSilver.scala:16` — which is an anti-pattern at scale); small
  single-file output is an opt-in flag in sources/files.py.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "azure-etl-spark"


def session_builder(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Builder with the engine's defaults; callers may override any conf."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # small floor so AQE can spread a small CPU-heavy shuffle over the
        # session's cores (see the scale notes above); 64k was measured
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter semi-join pruning: a selective dim filter
        # builds a bloom filter that prunes the fact scan BEFORE its
        # shuffle — off by default in Spark, a large win for shuffle
        # joins at 100 TB (the planner only injects it where thresholds
        # make it profitable, so enabling globally is safe)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS); Spark has no ns
        # timestamp — read as long, sources/files.py rescales to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )


def get_session(**kwargs) -> SparkSession:
    return session_builder(**kwargs).getOrCreate()


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Make an externally-provided session reproducible vs the DuckDB oracle.

    The driver hands our ``queries()`` callables its own session; runtime
    confs (timezone, AQE) are settable post-hoc, core confs are not.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older/newer Spark without the legacy knob
    return spark
