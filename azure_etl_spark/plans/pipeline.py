"""Medallion pipeline: the reference's 19-task Airflow DAG
(etl-vini-azure.py:397-412) collapsed to its actual dataflow.

    ingest -> bronze(parquet) -> silver(dedup+sort, parquet)
           -> gold(agg+derive, partitioned) -> {document sink, warehouse sink}

Each stage writes its layer and returns that layer as read back from
storage, as the reference's serving notebooks read gold back from its
table (goldToCosmosdb.scala:24-25, goldToSynapse.scala:25-26). The
materialization IS the contract (bronze/silver/gold are real tables
other teams read), and a consumer of a stage's return value scans the
written files instead of re-executing the upstream plan: the two
serving sinks read gold's few rows, not silver's scan, aggregate and
range sort once each.

Orchestration concerns (sensors, XCom scraping, terraform) are out of
engine scope (SURVEY.md §2.13); fan-out at serving is plain Python.

Scale notes: gold is written partitioned by the stamp date columns
(pruned reads for backfills); no ``coalesce(1)`` anywhere — the
reference's single-file habit (bronzeToSilver.scala:16) dies at scale.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from azure_etl_spark.operators.aggregate import grouped_min_max
from azure_etl_spark.operators.dedup import distinct_sorted
from azure_etl_spark.operators.derive import stamp_date_parts, with_expr
from azure_etl_spark.sources.document import write_documents
from azure_etl_spark.sources.files import (
    default_table_format,
    read_parquet,
    read_table_format,
    write_parquet,
    write_partitioned,
)
from azure_etl_spark.sources.warehouse import write_warehouse


def _write_and_read_back(df: DataFrame, path: str) -> DataFrame:
    """Parquet-write ``df`` and return a scan of the written files. The
    schema is the one just written, so the read runs no inference job."""
    write_parquet(df, path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


@dataclass
class MedallionPipeline:
    """The reference pipeline, generalized to any (key, value) table."""

    root: str
    key: str = "symbol"
    value: str = "price"
    as_of: _dt.date | None = None
    results: dict[str, object] = field(default_factory=dict)

    def path(self, layer: str) -> str:
        return os.path.join(self.root, layer)

    # -- stages (each mirrors one reference notebook) -----------------

    def to_bronze(self, raw: DataFrame) -> DataFrame:
        """Raw snapshot union lands as-is in bronze parquet (the ADF
        copy, datafactory.tf:36-43)."""
        return _write_and_read_back(raw, self.path("bronze"))

    def bronze_to_silver(self, spark: SparkSession) -> DataFrame:
        """bronzeToSilver.scala: read bronze glob -> distinct -> sort.

        The silver write carries an ``Observation``: row count + null-key
        count ride along with the job (accumulator-style), so data-quality
        counters cost zero extra actions — at 100 TB a separate
        ``df.count()`` for metrics would double the scan.
        """
        obs = Observation("silver_quality")
        df = distinct_sorted(read_parquet(spark, self.path("bronze")), [self.key])
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(self.key).isNull().cast("long")).alias("null_keys"),
        )
        silver = _write_and_read_back(df, self.path("silver"))
        self.results["silver_metrics"] = dict(obs.get)
        return silver

    def gold_plan(self, silver: DataFrame) -> DataFrame:
        """silverToGold.scala's transform: grouped min/max + difference +
        date parts, sorted by key."""
        gold = grouped_min_max(
            silver,
            keys=[self.key],
            value=self.value,
            min_alias=f"min_value_by_{self.key}",
            max_alias=f"max_value_by_{self.key}",
        )
        gold = with_expr(
            gold,
            "difference_between_min_max",
            f"max_value_by_{self.key} - min_value_by_{self.key}",
        )
        return stamp_date_parts(gold, as_of=self.as_of).orderBy(self.key)

    def silver_to_gold(self, spark: SparkSession) -> DataFrame:
        """silverToGold.scala: gold written partitioned by year/month/day
        and read back in the format the write used."""
        gold = self.gold_plan(read_parquet(spark, self.path("silver")))
        fmt = default_table_format()
        write_partitioned(gold, self.path("gold"), ["year", "month", "day"], fmt=fmt)
        return read_table_format(spark, self.path("gold"), fmt=fmt)

    def gold_to_serving(self, spark: SparkSession, gold: DataFrame) -> None:
        """Fan-out: document sink (goldToCosmosdb) + staged warehouse
        sink (goldToSynapse)."""
        write_documents(gold, self.path("serving_documents"), mode="overwrite")
        staged = write_warehouse(
            gold, table="goldtable", mode="staged", temp_dir=self.path("serving_stage")
        )
        self.results["copy_sql"] = staged.copy_sql

    # -- runner -------------------------------------------------------

    def run(self, spark: SparkSession, raw: DataFrame) -> DataFrame:
        self.to_bronze(raw)
        self.bronze_to_silver(spark)
        gold = self.silver_to_gold(spark)
        self.gold_to_serving(spark, gold)
        for layer in ("bronze", "silver", "gold", "serving_documents", "serving_stage"):
            self.results[layer] = self.path(layer)
        return gold
