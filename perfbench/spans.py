"""Spans around calls into the engine, and the counters read for them.

A span times one call from outside the engine. In a traced run each span
also runs its Spark jobs under a job group of its own, so the work the
call submitted can be read back afterwards: completed tasks through
``SparkContext.statusTracker()`` and shuffle bytes written from Spark's
event log (enabled only for traced runs). A streaming query runs its
micro-batches under its ``runId`` as job group instead; a span that
drains a query adds that group to its own. Spans do not nest, so a
span's self time is its duration.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans; a disabled tracer only yields and records nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        group = f"perfbench-{len(self.spans)}"
        rec = {"name": name, "groups": [group], "counts": {}}
        self.spans.append(rec)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read_tasks(self) -> None:
        """Fill ``counts['tasks']`` of every span from the status tracker.
        Call once the traced work is done; the listener bus is drained
        first so the last jobs' stages are visible."""
        _drain_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            tasks = 0
            for group in rec["groups"]:
                for job_id in tracker.getJobIdsForGroup(group):
                    job = tracker.getJobInfo(job_id)
                    for stage_id in job.stageIds if job else ():
                        stage = tracker.getStageInfo(stage_id)
                        tasks += stage.numCompletedTasks if stage else 0
            rec["counts"]["tasks"] = tasks

    def read_shuffle_bytes(self, event_log_dir: str) -> None:
        """Fill ``counts['shuffle_bytes']`` of every span from the event
        logs under ``event_log_dir``: shuffle bytes written by the tasks
        of every job in the span's job group."""
        by_group = shuffle_bytes_by_group(event_log_dir)
        for rec in self.spans:
            rec["counts"]["shuffle_bytes"] = sum(by_group.get(g, 0) for g in rec["groups"])


def _drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def shuffle_bytes_by_group(event_log_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, summed over every Spark event
    log in ``event_log_dir``."""
    out: dict[str, int] = {}
    paths = glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
    for path in filter(os.path.isfile, paths):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    if group:
                        out[group] = out.get(group, 0) + written
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(_children(pid))
    return seen


def peak_rss_mb() -> float:
    """Sum of the resident high-water marks (VmHWM) of this process and
    its descendants: Spark's JVM and its Python workers included."""
    return sum(_status_kb(pid, "VmHWM") for pid in process_tree()) / 1024.0


def heap_live_mb(spark) -> float:
    """Heap the driver JVM holds live: heap used right after a full
    collection, which this call requests. The first collection lets
    Spark's context cleaner free the blocks, broadcasts and shuffles of
    DataFrames nobody references any more (Python's own references are
    dropped first); the second one, after the cleaner has run, is read."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / (1024.0 * 1024.0)
