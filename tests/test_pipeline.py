"""End-to-end medallion pipeline on the crypto-shaped view, checked
against a DuckDB oracle computed from the same raw input (the golden
test of SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

from pyspark.sql import functions as F

from azure_etl_spark.plans.pipeline import MedallionPipeline
from azure_etl_spark.plans.queries import crypto_view


def test_medallion_end_to_end(spark, sf_dir, duck, tmp_path):
    raw = crypto_view(spark, sf_dir)
    pipe = MedallionPipeline(root=str(tmp_path), as_of=dt.date(2024, 1, 15))
    gold = pipe.run(spark, raw)

    rows = {r["symbol"]: r for r in gold.collect()}
    expected = duck.sql(
        """
        WITH crypto AS (SELECT l_returnflag AS symbol,
                               CAST(l_extendedprice AS DECIMAL(10,2)) AS price
                        FROM lineitem),
        silver AS (SELECT DISTINCT symbol, price FROM crypto)
        SELECT symbol, MIN(price) mn, MAX(price) mx, MAX(price)-MIN(price) diff
        FROM silver GROUP BY symbol
        """
    ).fetchall()
    assert len(rows) == len(expected)
    for sym, mn, mx, diff in expected:
        r = rows[sym]
        assert r["min_value_by_symbol"] == mn
        assert r["max_value_by_symbol"] == mx
        assert r["difference_between_min_max"] == diff
        assert (r["year"], r["month"], r["day"]) == (2024, 1, 15)

    # layer materialization contracts
    assert glob.glob(os.path.join(pipe.path("bronze"), "*.parquet"))
    assert glob.glob(os.path.join(pipe.path("silver"), "*.parquet"))
    # gold is hive-partitioned by the stamp date -> prunable backfill reads
    assert os.path.isdir(os.path.join(pipe.path("gold"), "year=2024", "month=1", "day=15"))

    # document serving layer: all-string + unique id (goldToCosmosdb shape)
    doc_files = glob.glob(os.path.join(pipe.path("serving_documents"), "*.json"))
    assert doc_files
    docs = [json.loads(line) for f in doc_files for line in open(f) if line.strip()]
    assert len(docs) == len(rows)
    assert all(isinstance(v, str) for d in docs for v in d.values())
    assert len({d["id"] for d in docs}) == len(docs)

    # staged warehouse copy: parquet staged + COPY INTO DDL generated
    assert "COPY INTO goldtable" in pipe.results["copy_sql"]
    staged = spark.read.parquet(os.path.join(pipe.path("serving_stage"), "goldtable"))
    assert staged.count() == len(rows)


def test_gold_partition_pruning(spark, sf_dir, tmp_path):
    """A date-filtered gold read must scan only the matching partition."""
    raw = crypto_view(spark, sf_dir)
    pipe = MedallionPipeline(root=str(tmp_path), as_of=dt.date(2024, 1, 15))
    pipe.run(spark, raw)
    gold = spark.read.parquet(pipe.path("gold"))
    plan = (
        gold.filter((F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 15))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_reference_golden_values_reproduced(spark, tmp_path):
    """Reference-results parity: the exact 25-row silver snapshot embedded
    in the executed bronzeToSilver.dbc (result block, symbols x prices)
    must produce the exact gold table embedded in silverToGold.dbc —
    values, decimal(10,2)->decimal(11,2) widening, and the run date the
    reference stamped via current_date() (2022-02-10), reproduced here
    with the explicit as_of parameter."""
    import decimal as dec

    from pyspark.sql.types import (
        DecimalType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    silver_rows = [  # bronzeToSilver.dbc displayed silver snapshot (25 rows)
        ("ADAUSDT", "1.20"),
        ("BNBUSDT", "427.90"), ("BNBUSDT", "428.00"), ("BNBUSDT", "427.80"),
        ("BTCUSDT", "44607.02"), ("BTCUSDT", "44608.21"), ("BTCUSDT", "44612.83"),
        ("BTCUSDT", "44607.03"), ("BTCUSDT", "44613.38"), ("BTCUSDT", "44610.18"),
        ("BTCUSDT", "44613.51"), ("BTCUSDT", "44613.39"), ("BTCUSDT", "44613.01"),
        ("BTCUSDT", "44610.17"), ("BTCUSDT", "44615.43"), ("BTCUSDT", "44613.02"),
        ("BTCUSDT", "44612.84"),
        ("ETHUSDT", "3254.30"), ("ETHUSDT", "3254.03"), ("ETHUSDT", "3253.65"),
        ("ETHUSDT", "3254.15"), ("ETHUSDT", "3253.66"), ("ETHUSDT", "3254.00"),
        ("ETHUSDT", "3254.04"),
        ("LTCUSDT", "140.30"),
    ]
    golden_gold = {  # silverToGold.dbc displayed gold result
        "ADAUSDT": ("1.20", "1.20", "0.00"),
        "BNBUSDT": ("427.80", "428.00", "0.20"),
        "BTCUSDT": ("44607.02", "44615.43", "8.41"),
        "ETHUSDT": ("3253.65", "3254.30", "0.65"),
        "LTCUSDT": ("140.30", "140.30", "0.00"),
    }
    schema = StructType(
        [StructField("symbol", StringType()), StructField("price", DecimalType(10, 2))]
    )
    # raw = snapshot with duplicates (the poll loop re-reads tickers);
    # bronze->silver distinct must collapse back to the 25 golden rows
    raw_rows = [(s, dec.Decimal(p)) for s, p in silver_rows] * 3
    raw = spark.createDataFrame(raw_rows, schema)

    pipe = MedallionPipeline(root=str(tmp_path), as_of=dt.date(2022, 2, 10))
    gold = pipe.run(spark, raw)

    assert pipe.results["silver_metrics"]["rows"] == 25  # distinct collapsed 75 -> 25

    types = dict((f.name, f.dataType) for f in gold.schema.fields)
    assert str(types["min_value_by_symbol"]) == "DecimalType(10,2)"
    assert str(types["difference_between_min_max"]) == "DecimalType(11,2)"  # widened

    got = {r["symbol"]: r for r in gold.collect()}
    assert set(got) == set(golden_gold)
    for sym, (mn, mx, diff) in golden_gold.items():
        r = got[sym]
        assert r["min_value_by_symbol"] == dec.Decimal(mn)
        assert r["max_value_by_symbol"] == dec.Decimal(mx)
        assert r["difference_between_min_max"] == dec.Decimal(diff)
        assert (r["year"], r["month"], r["day"]) == (2022, 2, 10)


def test_incremental_gold_merge_equals_full_recompute(spark, sf_dir):
    """Mergeable-aggregate identity: folding a new batch into existing
    gold equals recomputing gold over history+batch — the incremental
    refresh path that avoids rescanning the corpus."""
    from azure_etl_spark.operators.aggregate import (
        grouped_min_max,
        incremental_minmax_merge,
    )

    raw = crypto_view(spark, sf_dir)
    history = raw.filter(F.col("price") < 30000)
    batch = raw.filter(F.col("price") >= 30000)

    gold_hist = grouped_min_max(
        history, keys=["symbol"], value="price", min_alias="mn", max_alias="mx"
    )
    merged = incremental_minmax_merge(
        gold_hist, batch, keys=["symbol"], value="price", min_alias="mn", max_alias="mx"
    )
    full = grouped_min_max(
        raw, keys=["symbol"], value="price", min_alias="mn", max_alias="mx"
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_serving_reads_gold_back_not_recomputes(spark, sf_dir, tmp_path):
    """run() returns gold as read back from its table, so serving scans
    the written files: the returned plan has no shuffle or aggregate,
    and both serving sinks hold gold's values exactly."""
    raw = crypto_view(spark, sf_dir)
    pipe = MedallionPipeline(root=str(tmp_path), as_of=dt.date(2024, 1, 15))
    gold = pipe.run(spark, raw)

    plan = gold._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "HashAggregate" not in plan

    gold_rows = gold.collect()
    # documents are gold cast to string plus a synthetic id
    as_text = sorted(sorted((c, str(v)) for c, v in r.asDict().items()) for r in gold_rows)
    doc_files = glob.glob(os.path.join(pipe.path("serving_documents"), "*.json"))
    docs = [json.loads(line) for f in doc_files for line in open(f) if line.strip()]
    assert sorted(sorted((c, v) for c, v in d.items() if c != "id") for d in docs) == as_text

    staged = spark.read.parquet(os.path.join(pipe.path("serving_stage"), "goldtable"))
    assert staged.columns == gold.columns
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, gold_rows))


def test_silver_totally_ordered_across_part_files(spark, duck, tmp_path):
    """Silver's range shuffle spreads a many-symbol input over several
    part files; read in name order they are one sorted run, and the
    observed row count is the distinct count."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "raw")
    (
        spark.range(0, 80_000)
        .select(
            F.format_string("SYM%05d", F.col("id") % 4000).alias("symbol"),
            ((F.col("id") * 37 % 1000) / 100).cast("decimal(10,2)").alias("price"),
        )
        .write.parquet(src)
    )
    pipe = MedallionPipeline(root=str(tmp_path / "m"), as_of=dt.date(2024, 1, 15))
    pipe.run(spark, spark.read.parquet(src))

    parts = sorted(glob.glob(os.path.join(pipe.path("silver"), "part-*.parquet")))
    assert len(parts) > 1
    keys = [k for p in parts for k in pq.read_table(p, columns=["symbol"])["symbol"].to_pylist()]
    assert keys == sorted(keys)

    distinct = duck.sql(
        f"SELECT count(*) FROM (SELECT DISTINCT symbol, price "
        f"FROM read_parquet('{src}/*.parquet'))"
    ).fetchone()[0]
    assert pipe.results["silver_metrics"]["rows"] == distinct == len(keys)
