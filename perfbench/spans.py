"""Spans, Spark event-log folding and a driver RSS sampler.

A span is one call into an engine layer, timed from the benchmark's own
code. In traced runs every span also sets a Spark job group, so the jobs
it submits can be found in the event log afterwards; `EventLog` attaches
Spark's own event-log listener to the running session for the traced
calls only, and `fold_event_log` turns the log into per-span Spark
counters (executor CPU, GC, shuffle, spill, task skew, peak JVM heap).
Spans are kept in memory and written out as JSON once the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

# Settings that make the event log a single uncompressed JSON-lines file
# (Spark 4 defaults to zstd + rolling directories), with per-stage
# executor memory peaks.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.logStageExecutorMetrics": "true",
}

_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss_bytes() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * _PAGE


class RssSampler:
    """One daemon thread that samples the driver's RSS every `period` s.

    `peak_growth()` returns the largest RSS seen since `reset()` minus
    the RSS at `reset()`."""

    def __init__(self, period: float = 0.02):
        self._period = period
        self._lock = threading.Lock()
        self._base = self._peak = rss_bytes()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def _sample(self) -> None:
        r = rss_bytes()
        with self._lock:
            if r > self._peak:
                self._peak = r

    def reset(self) -> None:
        r = rss_bytes()
        with self._lock:
            self._base = self._peak = r

    def peak_growth(self) -> int:
        self._sample()
        with self._lock:
            return self._peak - self._base


class Tracer:
    """Records one span per call into an engine layer (spans do not nest).

    With a SparkContext `sc`, each span runs its jobs under a job group
    `span-<id>`, which is how `fold_event_log` attributes stages to spans.
    With an RssSampler `rss`, each span records the driver's peak RSS
    growth during it."""

    def __init__(self, sc=None, rss: RssSampler | None = None):
        self.spans: list[dict] = []
        self.sc = sc
        self.rss = rss

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name}
        self.spans.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{rec['id']}", name)
        if self.rss is not None:
            self.rss.reset()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.rss is not None:
                rec["rss_growth_bytes"] = self.rss.peak_growth()
            if self.sc is not None:
                self.sc.setJobGroup("outside", "outside spans")


class EventLog:
    """Spark's event-log listener, attached to a running session for the
    length of a `with` block (the session-wide `spark.eventLog.enabled`
    would log every call of the run). It writes `path`, one JSON event per
    line; on exit it waits until the listener has seen every event."""

    def __init__(self, sc, log_dir: str):
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        conf = self._sc.conf().clone()
        for k, v in EVENT_LOG_CONF.items():
            conf.set(k, v)
        os.makedirs(log_dir, exist_ok=True)
        self.path = os.path.join(log_dir, sc.applicationId)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir), conf,
            self._sc.hadoopConfiguration())

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._sc.listenerBus().addToEventLogQueue(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()


# --------------------------------------------------------------------------
# event-log fold
# --------------------------------------------------------------------------

_COUNTERS = ("cpu_s", "run_s", "gc_s", "shuffle_write_bytes",
             "shuffle_write_records", "shuffle_read_bytes", "spill_bytes",
             "tasks")


def _task_counters(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    return {
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_records": sw.get("Shuffle Records Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "tasks": 1,
    }


def fold_event_log(lines) -> dict[str, dict]:
    """Fold Spark event-log lines into counters per job group.

    Returns {job_group: {cpu_s, run_s, gc_s, shuffle_write_bytes,
    shuffle_write_records, shuffle_read_bytes, spill_bytes, tasks,
    stages, task_skew, peak_heap_bytes}}. Task counters come from
    SparkListenerTaskEnd; a stage belongs to the group of the first job
    that lists it. task_skew is max / median task run time of the group's
    dominant stage (the one with the most executor run time);
    peak_heap_bytes is the largest JVMHeapMemory any stage reported."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    stage_heap: dict[int, int] = defaultdict(int)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                # a later job lists a reused shuffle stage again (skipped);
                # its tasks ran under the first job that listed it
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            stage_tasks[sid].append(_task_counters(ev))
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            stage_heap[sid] = max(stage_heap[sid], heap)
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            sid = ev["Stage ID"]
            stage_heap[sid] = max(stage_heap[sid], heap)

    out: dict[str, dict] = {}
    dominant: dict[str, tuple[float, int]] = {}
    for sid, group in stage_group.items():
        tasks = stage_tasks.get(sid)
        if not tasks:
            continue  # skipped stage (its shuffle output was reused)
        acc = out.setdefault(group, {**{k: 0 for k in _COUNTERS},
                                     "stages": 0, "task_skew": 1.0,
                                     "peak_heap_bytes": 0})
        for t in tasks:
            for k in _COUNTERS:
                acc[k] += t[k]
        acc["stages"] += 1
        acc["peak_heap_bytes"] = max(acc["peak_heap_bytes"], stage_heap[sid])
        run = sum(t["run_s"] for t in tasks)
        if group not in dominant or run > dominant[group][0]:
            dominant[group] = (run, sid)
    for group, (_, sid) in dominant.items():
        runs = [t["run_s"] for t in stage_tasks[sid]]
        med = float(np.median(runs))
        out[group]["task_skew"] = max(runs) / med if med > 0 else 1.0
    return out


def attach_spark_counters(spans: list[dict], log_path: str) -> None:
    """Copy the folded counters of each span's job group into the span,
    then delete the log (tens of MB per run)."""
    with open(log_path) as f:
        groups = fold_event_log(f)
    os.remove(log_path)
    for s in spans:
        s["spark"] = groups.get(f"span-{s['id']}")


