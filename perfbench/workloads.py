"""The benchmark's workloads.

Each workload generates its inputs from the seed (:mod:`inputs`), runs
untimed warm-up passes, then timed passes. A pass is a closed loop of
calls into the engine's public functions, issued one after another by
this single client process. Outputs are checked against DuckDB over the
generated inputs; an operation that raises or returns a wrong answer
counts as failed.

In a traced pass every call sits inside a :class:`spans.Tracer` span
named after the engine function it calls. Which end-to-end metric each
layer should move:

- ``pipeline.{to_bronze,bronze_to_silver,silver_to_gold,gold_to_serving}.*``
  and ``pipeline.silver_keep_ratio``: ``batch_s`` on medallion_batch;
  silver is the largest share of a pass.
- ``queries.<name>.{s,tasks,shuffle_bytes}``: ``op_s.p50`` and
  ``batch_s`` on query_mix. Fewer exchanges in a query's plan show
  first as fewer shuffle bytes and tasks.
- ``snapshot.write_snapshot.*``: ``table_stream.commit_s.*``;
  ``delta_export.{export_delta_log,read_delta_log_table}.s``: the table
  layer's wall time; ``{snapshot_source,delta_source}.drain.*``: the
  matching ``table_stream.drain_s.*``. ROADMAP item 1 predicts
  ``snapshot_source.drain.tasks`` falls with the rest flat. These come
  from the :class:`TableLayers` probe at the end of a traced query_mix
  run.
- ``dedup.*``, ``corpus_pipeline.media_near_dup_pairs``,
  ``similarity.semantic_dedup`` and ``curation.*``: their sum
  ``funnel.traced_total_s``, and peak memory. They come from the
  :class:`FunnelStages` probe at the end of a traced medallion_batch
  run.
- ``peak_rss_mb`` has no layer split: it covers Spark's JVM and any
  Python workers Spark starts. ``jvm.heap_live_mb`` (traced runs) is the
  driver heap still live after the untraced passes.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time

import duckdb
import pyarrow.parquet as pq

import inputs

AS_OF = dt.date(2024, 1, 15)


class PassResult:
    def __init__(self):
        self.seconds = 0.0
        self.op_seconds: list[float] = []
        self.attempted = 0
        self.failed = 0

    def op(self, ok: bool, seconds: float | None = None) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        if seconds is not None:
            self.op_seconds.append(seconds)


def _parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.read_metadata(f).num_rows for f in files)


class Workload:
    """Base class. ``setup`` generates the inputs into a fresh directory
    and loads them into the engine (``load`` alone loads them into a new
    session); ``expect`` computes the answers the outputs are checked
    against; ``warm`` runs one untimed pass; ``run_pass`` runs one timed,
    optionally traced, pass; ``probe`` gives the layer probe a traced
    run ends with."""

    name = ""
    warm_passes = 1  # warm() and then warm_passes - 1 untimed run_pass calls

    def __init__(self, seed: int, root: str, corrupt: bool = False):
        self.seed = seed
        self.root = root
        # self-test hook: falsify one checked output so the check must fail
        self.corrupt = corrupt
        self.inputs_sha256 = ""
        self.setups = 0

    def fresh_inputs(self) -> str:
        """A new input directory per set-up, so nothing the engine
        cached for the previous one applies; the previous is removed."""
        if self.setups:
            shutil.rmtree(os.path.join(self.root, f"inputs-{self.setups - 1}"), ignore_errors=True)
        self.setups += 1
        return self.fresh_dir(f"inputs-{self.setups - 1}")

    def warm(self, spark, tracer, result: PassResult) -> None:
        self.run_pass(spark, tracer, result)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _corrupt_once(self) -> bool:
        hit, self.corrupt = self.corrupt, False
        return hit


# --------------------------------------------------------------- medallion


class MedallionBatch(Workload):
    """``MedallionPipeline.run`` over seeded ticker polls: bronze, silver
    (distinct + sort), gold (grouped min/max, date parts, partitioned)
    and the serving fan-out, each materialized to storage."""

    name = "medallion_batch"

    # the first pass runs ~3.5x slower than a warm one, the second ~35%
    # slower, the third ~10% (JIT); the median of the timed passes
    # absorbs what is left
    warm_passes = 3

    def setup(self, spark) -> None:
        data = self.fresh_inputs()
        self.raw = os.path.join(data, "raw")
        inputs.ticker_polls(self.seed, self.raw)
        self.inputs_sha256 = inputs.tree_sha256(data)
        self.passes = 0
        self.load(spark)

    def load(self, spark) -> None:
        self.raw_df = spark.read.parquet(self.raw)

    def probe(self):
        return FunnelStages(self.seed, os.path.join(self.root, "funnel"))

    def expect(self) -> None:
        src = f"read_parquet('{self.raw}/*.parquet')"
        with duckdb.connect() as con:
            self.expect_silver = con.sql(
                f"SELECT count(*) FROM (SELECT DISTINCT symbol, price FROM {src})"
            ).fetchone()[0]
            self.expect_gold = con.sql(
                f"SELECT symbol, min(price), max(price), max(price) - min(price) "
                f"FROM {src} GROUP BY symbol ORDER BY symbol"
            ).fetchall()

    def _check(self, out: str, silver_rows: int) -> bool:
        gold = duckdb.sql(
            f"SELECT symbol, min_value_by_symbol, max_value_by_symbol, "
            f"difference_between_min_max, year, month, day FROM read_parquet("
            f"'{out}/gold/**/*.parquet', hive_partitioning = true) ORDER BY symbol"
        ).fetchall()
        got = [tuple(r[:4]) for r in gold]
        if self._corrupt_once():
            got = got[1:]
        stamps = {(int(r[4]), int(r[5]), int(r[6])) for r in gold}
        return (
            got == self.expect_gold
            and stamps == {(AS_OF.year, AS_OF.month, AS_OF.day)}
            and silver_rows == self.expect_silver
        )

    def run_pass(self, spark, tracer, result: PassResult) -> None:
        from azure_etl_spark.plans.pipeline import MedallionPipeline

        out = self.fresh_dir(f"out-{self.passes}")
        self.passes += 1
        pipe = MedallionPipeline(root=out, as_of=AS_OF)
        ok = True
        t0 = time.perf_counter()
        try:
            if not tracer.enabled:
                pipe.run(spark, self.raw_df)
            else:
                # run()'s four stages, called one by one inside spans
                with tracer.span("pipeline.to_bronze") as s_bronze:
                    pipe.to_bronze(self.raw_df)
                with tracer.span("pipeline.bronze_to_silver") as s_silver:
                    pipe.bronze_to_silver(spark)
                with tracer.span("pipeline.silver_to_gold") as s_gold:
                    gold = pipe.silver_to_gold(spark)
                with tracer.span("pipeline.gold_to_serving") as s_serve:
                    pipe.gold_to_serving(spark, gold)
        except Exception as exc:  # a failed pass is counted, not fatal
            print(f"medallion pass failed: {exc!r}")
            ok = False
        elapsed = time.perf_counter() - t0
        if ok:
            silver_rows = int(pipe.results["silver_metrics"]["rows"])
            ok = self._check(out, silver_rows)
            if tracer.enabled:
                bronze_rows = _parquet_rows(os.path.join(out, "bronze"))
                s_bronze["counts"]["rows_out"] = bronze_rows
                s_silver["counts"]["rows_out"] = silver_rows
                s_silver["counts"]["keep_ratio"] = silver_rows / max(bronze_rows, 1)
                s_gold["counts"]["rows_out"] = _parquet_rows(os.path.join(out, "gold"))
                s_serve["counts"]["rows_out"] = duckdb.sql(
                    f"SELECT count(*) FROM read_json_auto('{out}/serving_documents/*.json')"
                ).fetchone()[0]
        result.seconds = elapsed
        result.op(ok, elapsed)
        shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------- query mix

# A fixed slice of the registry's bench=True queries, run in a seeded
# order: the four whose plans carry the most shuffle exchanges, plus the
# salted skew join (operators.joins), which no other workload reaches.
QUERY_SET = (
    "kll_bucket_orders",             # operators.sketch KLL buckets
    "unigram_logprob_docs",          # word log-probs: two aggregates + join
    "cms_word_freq_docs",            # operators.sketch count-min
    "dedup_duplicate_spans_docs",    # operators.curation span dedup
    "join_skewed_salted",            # operators.joins salted join
)


class QueryMix(Workload):
    """The QUERY_SET registry queries, each materialized to the ``noop``
    sink, in an order drawn from the seed."""

    name = "query_mix"
    # the check pass, then three noop passes: after the check pass the
    # short queries' times fall by a quarter over the next three passes
    # (JIT). With two, the first timed pass was still ~15% slower than
    # the next, and since a run fits two or three passes, batch_s
    # depended on which
    warm_passes = 4

    def setup(self, spark) -> None:
        self.tables = os.path.join(self.fresh_inputs(), "tables")
        inputs.registry_tables(self.seed, self.tables)
        self.inputs_sha256 = inputs.tree_sha256(self.tables)
        self.order = list(QUERY_SET)
        random.Random(self.seed).shuffle(self.order)
        self.load(spark)

    def load(self, spark) -> None:
        from azure_etl_spark.sources.files import load_table

        for t in inputs.REGISTRY_TABLES:
            load_table(spark, self.tables, t)

    def probe(self):
        return TableLayers(self.seed, os.path.join(self.root, "table-layers"))

    def expect(self) -> None:
        from azure_etl_spark.plans.queries import QUERIES
        # the oracle-parity test's comparison: rows as sorted tuples of
        # typed cells, columns ordered by name
        from tests.test_oracle_parity import _normalize

        self.expected = {}
        with duckdb.connect() as con:
            for t in inputs.REGISTRY_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
            for name in self.order:
                rel = con.sql(QUERIES[name].oracle)
                self.expected[name] = _normalize(rel.fetchall(), rel.columns)

    def warm(self, spark, tracer, result: PassResult) -> None:
        """The warm-up pass is also the output check: each query is
        collected and compared with its DuckDB oracle."""
        from azure_etl_spark.plans.queries import QUERIES
        from tests.test_oracle_parity import _normalize

        for name in self.order:
            try:
                sdf = QUERIES[name].fn(spark, self.tables)
                got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
                if self._corrupt_once():
                    got = got[1:]
                ok = got == self.expected[name]
                if not ok:
                    print(f"{name}: output differs from its oracle")
            except Exception as exc:  # counted as a failed operation
                print(f"{name} failed: {exc!r}")
                ok = False
            result.op(ok)

    def run_pass(self, spark, tracer, result: PassResult) -> None:
        from azure_etl_spark.plans.queries import QUERIES

        t_pass = time.perf_counter()
        for name in self.order:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"queries.{name}"):
                    QUERIES[name].fn(spark, self.tables).write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as exc:  # counted as a failed operation
                print(f"{name} failed: {exc!r}")
                ok = False
            result.op(ok, time.perf_counter() - t0)
        result.seconds = time.perf_counter() - t_pass


# ------------------------------------------------------------ layer probes
#
# The table layer and the curation funnel run once, traced, at the end of
# a traced run (see run.py): their layers get a figure without a
# workload of their own. Each goes with the workload whose traced run is
# shorter without it, so that both traced runs stay short.


def _drain(spark, fmt: str, table: str, ckpt: str, rec) -> int:
    """Drain the change feed of ``table`` from version 0 through the
    ``fmt`` streaming source with a fresh checkpoint and an availableNow
    trigger; returns the rows it delivered. The query's micro-batches
    run under its runId as job group, which joins the span's groups;
    per-batch planning and write times come from its progress."""
    q = (
        spark.readStream.format(fmt)
        .option("path", table)
        .option("readchangefeed", "true")
        .option("startingversion", "0")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    progress = q.recentProgress
    rec["groups"].append(str(q.runId))
    durations = [p.durationMs for p in progress]
    rec["counts"]["batches"] = sum(1 for p in progress if p.numInputRows)
    rec["counts"]["latest_offset_ms"] = sum(d.get("latestOffset", 0) for d in durations)
    rec["counts"]["add_batch_ms"] = sum(d.get("addBatch", 0) for d in durations)
    return sum(p.numInputRows for p in progress)


class TableLayers:
    """The table layer as ``table_stream`` drives it: seeded append
    commits of FILES_PER_COMMIT files each through ``write_snapshot``,
    one merge-on-read delete, ``export_delta_log``, a tip read through
    each reader, then a fresh-checkpoint availableNow drain of the change
    feed through each streaming source. Tip reads and drains are checked
    against the generator's ledger."""

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.root = root
        self.ledger = inputs.table_ledger(seed)
        self.inputs_sha256 = hashlib.sha256(json.dumps(self.ledger).encode()).hexdigest()

    def run(self, spark, tracer, result: PassResult) -> dict[str, float]:
        from azure_etl_spark.sources import delta_export, snapshot
        from azure_etl_spark.streaming import delta_source, snapshot_source

        table = os.path.join(self.root, "table")
        shutil.rmtree(table, ignore_errors=True)
        rows, deleted = self.ledger["rows"], self.ledger["deleted"]
        live = sum(rows) - deleted
        commit_s = []

        def op(name, fn, expect=None):
            t0 = time.perf_counter()
            try:
                with tracer.span(name) as rec:
                    got = fn(rec)
                ok = expect is None or got == expect
                if not ok:
                    print(f"{name}: {got} rows, ledger says {expect}")
            except Exception as exc:  # counted as a failed operation
                print(f"{name} failed: {exc!r}")
                ok = False
            seconds = time.perf_counter() - t0
            result.op(ok, seconds)
            return seconds

        start = 0
        for i, n in enumerate(rows):
            df = spark.range(start, start + n, 1, inputs.FILES_PER_COMMIT).selectExpr(
                "id AS k", f"xxhash64(id, {self.seed}) % 100000 / 100.0 AS v",
                f"concat('g', CAST(pmod(xxhash64(id, {self.seed + 1}), 16) AS STRING)) AS g",
            )
            start += n
            commit_s.append(op(
                "snapshot.write_snapshot",
                lambda rec, df=df, i=i: snapshot.write_snapshot(
                    df, table, mode="append" if i else "overwrite"
                ),
            ))
        op("snapshot.delete_from_snapshot", lambda rec: snapshot.delete_from_snapshot(
            spark, table, [("k", "<", deleted)], mode="merge_on_read"))
        op("delta_export.export_delta_log", lambda rec: delta_export.export_delta_log(spark, table))
        op("snapshot.read_snapshot", lambda rec: snapshot.read_snapshot(spark, table).count(), live)
        op("delta_export.read_delta_log_table",
           lambda rec: delta_export.read_delta_log_table(spark, table).count(), live)
        # the change feed: every appended row as an insert, every deleted
        # row as a delete
        feed = sum(rows) + deleted
        snapshot_source.register(spark)
        delta_source.register(spark)
        drain = {}
        for fmt, layer in (("snapshot_table", "snapshot_source"), ("delta_log_table", "delta_source")):
            ckpt = os.path.join(self.root, f"ckpt-{fmt}")
            shutil.rmtree(ckpt, ignore_errors=True)
            drain[fmt] = op(f"{layer}.drain", lambda rec, fmt=fmt, ckpt=ckpt: _drain(
                spark, fmt, table, ckpt, rec), feed)
        q = statistics.quantiles(commit_s, n=4)
        return {
            "table_stream.commit_s.p50": statistics.median(commit_s),
            "table_stream.commit_s.p75": q[2],
            "table_stream.drain_s.snapshot_table": drain["snapshot_table"],
            "table_stream.drain_s.delta_log_table": drain["delta_log_table"],
        }


class FunnelStages:
    """The funnel of ``CurationPipeline(media_routes=("image/pnm",)).run``
    over seeded documents and embeddings, stage by stage in run()'s
    order: each engine call inside a span that persists and counts its
    output. Check: the stage counts never increase."""

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.tables = root
        inputs.funnel_tables(seed, root)
        self.inputs_sha256 = inputs.tree_sha256(root)

    def _inputs(self, spark):
        from pyspark.sql import functions as F

        from azure_etl_spark.operators.imagehash import attach_synth_pnm
        from azure_etl_spark.sources.files import ensure_min_partitions, load_table

        docs = ensure_min_partitions(
            load_table(spark, self.tables, "documents").select("doc_id", "text", "lang")
        )
        # the seed picks the eval slice and the 40% of docs with media
        r = random.Random(self.seed)
        eval_docs = docs.filter(F.col("doc_id") % 97 == r.randrange(97)).select(
            (F.col("doc_id") + 900_000).alias("doc_id"), "text"
        )
        emb = load_table(spark, self.tables, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        media = attach_synth_pnm(
            docs.filter(F.pmod(F.xxhash64("doc_id", F.lit(r.randrange(1 << 30))), 5) < 2).select("doc_id")
        ).withColumn("media_type", F.lit("image/pnm"))
        return docs, eval_docs, emb, media

    def run(self, spark, tracer, result: PassResult) -> dict[str, float]:
        from azure_etl_spark.plans.corpus_pipeline import CurationPipeline

        t0 = time.perf_counter()
        try:
            got = self._stages(spark, CurationPipeline(media_routes=("image/pnm",)), tracer,
                               *self._inputs(spark))
            ok = all(a >= b for a, b in zip(got, got[1:]))
            if not ok:
                print(f"curation funnel stage counts rise: {got}")
        except Exception as exc:  # counted as a failed operation
            print(f"curation funnel failed: {exc!r}")
            ok = False
        traced_s = time.perf_counter() - t0
        spark.catalog.clearCache()
        result.op(ok, traced_s)
        return {"funnel.traced_total_s": traced_s}

    @staticmethod
    def _stages(spark, pipe, tracer, docs, eval_docs, emb, media) -> list[int]:
        """run()'s dataflow, one span per engine call; every span ends
        with its output persisted and counted."""
        import math

        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from azure_etl_spark.operators.curation import contamination_overlap, pack_token_budget
        from azure_etl_spark.operators.dedup import (
            exact_text_dedup,
            minhash_near_dup_pairs,
            resolve_duplicate_clusters,
        )
        from azure_etl_spark.operators.sampling import deterministic_shard
        from azure_etl_spark.operators.similarity import semantic_dedup
        from azure_etl_spark.operators.text import quality_score, token_count
        from azure_etl_spark.plans.corpus_pipeline import media_near_dup_pairs

        counts = []

        def stage(name, build, keep=True):
            with tracer.span(name) as rec:
                df = build().persist(StorageLevel.MEMORY_AND_DISK)
                n = df.count()
                if rec is not None:
                    rec["counts"]["rows_out"] = n
            if keep:
                counts.append(n)
            return df

        gated = docs.filter(F.col("lang").isin(list(pipe.target_langs))).filter(
            quality_score("text") >= pipe.min_quality
        )
        kept = stage("dedup.exact_text_dedup", lambda: exact_text_dedup(gated))
        pairs = stage("dedup.minhash_near_dup_pairs", lambda: minhash_near_dup_pairs(
            kept, threshold=pipe.near_dup_threshold), keep=False)
        kept = stage("dedup.resolve_duplicate_clusters", lambda: resolve_duplicate_clusters(kept, pairs))
        pairs_m = stage("corpus_pipeline.media_near_dup_pairs", lambda: media_near_dup_pairs(
            media.join(kept.select("doc_id"), "doc_id"), routes=pipe.media_routes), keep=False)
        kept = stage("dedup.resolve_duplicate_clusters", lambda: resolve_duplicate_clusters(
            kept, pairs_m, keep_by=quality_score("text")))
        k_sem = max(8, math.ceil(math.sqrt(max(counts[-1], 1))))
        kept = stage("similarity.semantic_dedup", lambda: kept.join(semantic_dedup(
            emb.join(kept.select("doc_id"), "doc_id"), k=k_sem,
            threshold=pipe.semantic_threshold, id_col="doc_id",
        ).filter(~F.col("kept")).select("doc_id"), "doc_id", "left_anti"))
        kept = stage("curation.contamination_overlap", lambda: kept.join(
            contamination_overlap(kept, eval_docs, n=pipe.contamination_ngram)
            .filter(F.col("contaminated")).select("doc_id"), "doc_id", "left_anti"))
        stage("curation.pack_token_budget", lambda: pack_token_budget(
            kept.withColumn("shard", deterministic_shard("doc_id", pipe.n_shards))
            .withColumn("n_tokens", token_count("text")),
            budget=pipe.token_budget, shard_col="shard", order_cols=("doc_id",),
            n_tokens=F.col("n_tokens"),
        ))
        return counts


WORKLOADS = {w.name: w for w in (MedallionBatch, QueryMix)}
