#!/usr/bin/env python3
"""Benchmark the engine on one seeded workload.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 15 --trace 0

Run from the repository root or any other directory: the engine package
is found next to this directory, and its path is handed to Spark's
Python workers. Everything the run writes (generated inputs, Spark
scratch, checkpoints, event logs) goes to ``.perfbench_work/`` at the
repository root and is deleted at the end.

One client process drives the engine as a closed loop on
``local[<cores>]``, cores being the CPUs this process may run on. After
set-up and the workload's untimed warm-up passes, timed passes repeat
until ``--seconds`` have passed (at least one pass).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs
untraced passes, then traced passes in a new session with Spark's event
log on, then the workload's layer probe (the table layer after
medallion_batch, the curation funnel after query_mix), and prints the
per-layer metrics (see workloads.py and spans.py) with the tracing
overhead. Human-readable lines come first; the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--self-test`` falsifies one checked output and exits 0 only if the
run then reports a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import workloads
from spans import Tracer, heap_live_mb, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input set-up (generate from the seed, load into the engine) repeats
# SETUP_CYCLES times per run; setup_s adds their median to the one
# session start and the warm-up pass.
SETUP_CYCLES = 3
# The driver heap is fixed in size (-Xms = -Xmx) and touched at start: a
# growable heap is sized by G1's timing-driven heuristics, and peak RSS
# then spread by 30% between seeds. With the whole heap resident from the
# start, peak_rss_mb registers what lies outside it (metaspace, code
# cache, direct buffers, threads, the Python driver and workers); the
# heap the engine keeps live is the traced run's jvm.heap_live_mb.
JVM_HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "op_s.p50": "s",
    "peak_rss_mb": "MB",
}

_PIPELINE = ("to_bronze", "bronze_to_silver", "silver_to_gold", "gold_to_serving")
_FUNNEL = (
    "dedup.exact_text_dedup",
    "dedup.minhash_near_dup_pairs",
    "dedup.resolve_duplicate_clusters",
    "corpus_pipeline.media_near_dup_pairs",
    "similarity.semantic_dedup",
    "curation.contamination_overlap",
    "curation.pack_token_budget",
)
_WORK = (("s", "s"), ("tasks", "count"), ("shuffle_bytes", "bytes"))
_ROWS = (("rows_out", "rows"),)


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}

    def add(layer: str, keys) -> None:
        for key, unit in keys:
            m[f"{layer}.{key}"] = unit

    for stage in _PIPELINE:
        add(f"pipeline.{stage}", _WORK + _ROWS)
    m["pipeline.silver_keep_ratio"] = "ratio"
    for q in workloads.QUERY_SET:
        add(f"queries.{q}", _WORK)
    for layer in ("snapshot.write_snapshot", "snapshot.delete_from_snapshot",
                  "delta_export.export_delta_log", "snapshot.read_snapshot",
                  "delta_export.read_delta_log_table"):
        add(layer, _WORK)
    for layer in ("snapshot_source.drain", "delta_source.drain"):
        add(layer, _WORK + (("latest_offset_ms", "ms"), ("add_batch_ms", "ms"), ("batches", "count")))
    for name in ("commit_s.p50", "commit_s.p75", "drain_s.snapshot_table", "drain_s.delta_log_table"):
        m[f"table_stream.{name}"] = "s"
    for layer in _FUNNEL:
        add(layer, _WORK + _ROWS)
    m["funnel.traced_total_s"] = "s"
    m["jvm.heap_live_mb"] = "MB"
    m["trace.untraced_pass_s"] = "s"
    m["trace.traced_pass_s"] = "s"
    m["trace.overhead_s"] = "s"
    return m


PER_LAYER = _per_layer()


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch location at ``work`` and give Spark's Python
    workers the engine package; must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived JVM that spark-submit runs to build Spark's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def start_session(work: str, event_log: bool):
    from azure_etl_spark.session import session_builder

    tmp = os.path.join(work, "tmp")
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs, exist_ok=True)
    spark = (
        session_builder(app_name="perfbench", master=f"local[{cores()}]")
        .config("spark.driver.memory", JVM_HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log).lower())
        .config("spark.eventLog.dir", logs)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, keep_jvm: bool = False) -> None:
    """Stop Spark; unless ``keep_jvm``, also end its JVM and wait for it
    to exit: the JVM exits when its standard input closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    if keep_jvm:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _layer_values(pass_spans: list[list[dict]]) -> dict[str, float]:
    """Per traced pass, sum each span name's self time and counts; then
    take the median over the traced passes."""
    per_pass = []
    for spans in pass_spans:
        vals: dict[str, float] = {}
        for rec in spans:
            name = rec["name"]
            vals[f"{name}.s"] = vals.get(f"{name}.s", 0.0) + rec["seconds"]
            for key, v in rec["counts"].items():
                vals[f"{name}.{key}"] = vals.get(f"{name}.{key}", 0) + v
        per_pass.append(vals)
    keys = {k for vals in per_pass for k in vals}
    out = {k: statistics.median(vals.get(k, 0) for vals in per_pass) for k in keys}
    if "pipeline.bronze_to_silver.keep_ratio" in out:
        out["pipeline.silver_keep_ratio"] = out.pop("pipeline.bronze_to_silver.keep_ratio")
    return out


def _timed_passes(workload, spark, tracer, seconds: float, after_pass) -> list:
    """Timed passes until ``seconds`` have passed, at least one;
    ``after_pass(n)`` runs after the n-th."""
    passes = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        res = workloads.PassResult()
        workload.run_pass(spark, tracer, res)
        passes.append(res)
        after_pass(len(passes))
    return passes


def _warm_up(workload, spark, passes: int) -> workloads.PassResult:
    warm = workloads.PassResult()
    off = Tracer(spark, enabled=False)
    workload.warm(spark, off, warm)
    for _ in range(passes - 1):
        workload.run_pass(spark, off, warm)
    return warm


def run(args, work: str) -> tuple[dict, int, int]:
    workload = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), corrupt=args.self_test)
    run_one = run_traced if args.trace else run_untraced
    return run_one(args, work, workload)


def run_untraced(args, work: str, workload) -> tuple[dict, int, int]:
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, event_log=False)
        session_s = time.perf_counter() - t0
        setups = []
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            workload.setup(spark)
            setups.append(time.perf_counter() - t0)
        workload.expect()
        print(f"inputs_sha256 {workload.inputs_sha256}")
        print(f"session_start_s {session_s:.3f}")
        print("input_setup_s " + " ".join(f"{t:.3f}" for t in setups))
        print(f"cores {cores()}")

        t0 = time.perf_counter()
        warm = _warm_up(workload, spark, workload.warm_passes)
        warm_s = time.perf_counter() - t0
        print(f"warm_up_s {warm_s:.3f}")

        rss = []

        def read_rss(n: int) -> None:
            # RSS creeps up with every pass (generated classes pile up),
            # so the peak is read after a fixed amount of work
            if n == 1:
                rss.append(peak_rss_mb())

        passes = _timed_passes(workload, spark, Tracer(spark, enabled=False), args.seconds, read_rss)
        print("pass_s " + " ".join(f"{r.seconds:.3f}" for r in passes))
        print("op_s " + " ".join(f"{t:.3f}" for r in passes for t in r.op_seconds))
    finally:
        if spark is not None:
            stop_session(spark)

    # every pass runs the same operations in the same order: each
    # operation's median over the passes, then the median operation
    per_op = [statistics.median(times) for times in zip(*(r.op_seconds for r in passes))]
    values = {
        "setup_s": session_s + statistics.median(setups) + warm_s,
        "batch_s": statistics.median(r.seconds for r in passes),
        "op_s.p50": statistics.median(per_op),
        "peak_rss_mb": rss[0],
    }
    attempted = warm.attempted + sum(r.attempted for r in passes)
    failed = warm.failed + sum(r.failed for r in passes)
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in END_TO_END.items()}, attempted, failed


def run_traced(args, work: str, workload) -> tuple[dict, int, int]:
    """Untraced passes in a session without the event log, then a new
    session (same JVM) with the event log on runs traced passes, then the
    workload's layer probe. The difference of the median passes is the
    whole cost of tracing: event log, job groups and spans. Each side
    gets a quarter of ``--seconds`` (at least one pass), so that with the
    probe the run stays well inside its time limit."""
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, event_log=False)
        workload.setup(spark)
        workload.expect()
        print(f"inputs_sha256 {workload.inputs_sha256}")
        print(f"cores {cores()}")
        # two warm-up passes, not the workload's full warm-up: with the
        # layer probe the run has to stay well inside its time limit
        results = [_warm_up(workload, spark, 2)]
        print(f"setup_and_warm_up_s {time.perf_counter() - t0:.3f}")
        untraced = _timed_passes(workload, spark, Tracer(spark, enabled=False), args.seconds / 4,
                                 lambda n: None)
        heap_mb = heap_live_mb(spark)

        stop_session(spark, keep_jvm=True)
        # a failed start leaves the stopped session here, whose JVM the
        # finally clause ends
        spark = start_session(work, event_log=True)
        workload.load(spark)
        tracer = Tracer(spark, enabled=True)
        marks = [0]
        traced = _timed_passes(workload, spark, tracer, args.seconds / 4,
                               lambda n: marks.append(len(tracer.spans)))
        pass_spans = [tracer.spans[a:b] for a, b in zip(marks, marks[1:])]
        probe = workloads.PassResult()
        layers = workload.probe()
        print(f"probe_inputs_sha256 {layers.inputs_sha256}")
        first = len(tracer.spans)
        t0 = time.perf_counter()
        extra = layers.run(spark, tracer, probe)
        print(f"probe_s {time.perf_counter() - t0:.3f}")
        probe_spans = tracer.spans[first:]
        print("pass_s " + " ".join(f"{r.seconds:.3f}" for r in untraced))
        print("traced_pass_s " + " ".join(f"{r.seconds:.3f}" for r in traced))
        tracer.read_tasks()
    finally:
        if spark is not None:
            stop_session(spark)

    tracer.read_shuffle_bytes(os.path.join(work, "eventlog"))
    values = _layer_values(pass_spans)
    values.update(_layer_values([probe_spans]))
    values.update(extra)
    t_plain = statistics.median(r.seconds for r in untraced)
    t_traced = statistics.median(r.seconds for r in traced)
    values["trace.untraced_pass_s"] = t_plain
    values["trace.traced_pass_s"] = t_traced
    values["trace.overhead_s"] = t_traced - t_plain
    values["jvm.heap_live_mb"] = heap_mb
    results += untraced + traced + [probe]
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    # a layer this workload never calls did no work: it reads 0
    metrics = {name: {"value": float(values.get(name, 0)), "unit": unit} for name, unit in PER_LAYER.items()}
    return metrics, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work)
        import azure_etl_spark  # noqa: F401  (fails outside a checkout of the engine)

        metrics, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"ops_failed_frac {failed / max(attempted, 1):.6g} ({failed} of {attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    if args.self_test:
        ok = failed > 0
        print(f"self-test {'passed' if ok else 'FAILED'}: a falsified output "
              f"{'was' if ok else 'was not'} counted as a failed operation")
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
