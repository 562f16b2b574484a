"""Tracing for the benchmark's traced run, plus the process-tree RSS sampler
and the reader of Spark's own per-stage metrics.

Spans are recorded around calls into the layers' public functions from the
benchmark's files: either explicitly (``with tracer.span(name)``) or by
temporarily replacing a function where a layer imports it
(:meth:`Tracer.patch`).  Spans and counters stay in memory; :meth:`Tracer.write`
dumps them once, when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from pathlib import Path


class Tracer:
    """In-memory spans ``(id, name, start, end, parent)`` and counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def patch(self, module, attr: str, name: str, on_result=None) -> None:
        """Wrap ``module.attr`` in a span until :meth:`unpatch_all`;
        ``on_result`` (if given) sees every return value."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        self._patches.append((module, attr, original))
        setattr(module, attr, traced)

    def unpatch_all(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)

    def durations(self, name: str, parent: dict | None = None) -> list[float]:
        """Seconds of every closed span called ``name`` (under ``parent``)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (parent is None or s["parent"] == parent["id"])]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of span time not covered by child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"] or s["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "counters": self.counters,
                                    "self_s": self.self_times(), **extra}, indent=1))


# ---------------------------------------------------------------------------
# peak RSS of this process and its descendants (driver, JVM, Python workers)
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background thread sampling the summed RSS of the process tree."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------------------
# Spark's status store: per-call job / stage / task metrics
# ---------------------------------------------------------------------------


def _graph_names(cluster, out: list[str]) -> list[str]:
    out.append(cluster.name())
    nodes = cluster.childNodes()
    for i in range(nodes.size()):
        out.append(nodes.apply(i).name())
    clusters = cluster.childClusters()
    for i in range(clusters.size()):
        _graph_names(clusters.apply(i), out)
    return out


def spark_call_stats(spark, job_group: str) -> dict:
    """Metrics of every job run under ``job_group``, from Spark's status
    store (the same data the UI shows; kept with the UI disabled).

    ``stages`` lists the stages that ran (skipped ones excluded) with their
    executor run time, shuffle / output bytes, task count, whether they
    contain the ``MapInPandas`` (kernel) operator, and task durations of
    kernel stages.  ``stage_cover_s`` is the wall time during which at least
    one of them was running; the rest of a call is driver-side work.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(tracker.getJobIdsForGroup(job_group))
    stages, intervals = [], []
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            sd = store.lastStageAttempt(stage_id)
            if str(sd.status()) != "COMPLETE":
                continue
            kernel = "MapInPandas" in _graph_names(
                store.operationGraphForStage(stage_id).rootCluster(), [])
            intervals.append((sd.submissionTime().get().getTime(),
                              sd.completionTime().get().getTime()))
            task_ms = []
            if kernel:
                tasks = store.taskList(stage_id, sd.attemptId(), sd.numTasks())
                for i in range(tasks.size()):
                    d = tasks.apply(i).duration()
                    if d.isDefined():
                        task_ms.append(float(d.get()))
            stages.append({
                "stage_id": stage_id,
                "run_s": sd.executorRunTime() / 1000.0,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "output_bytes": sd.outputBytes(),
                "tasks": sd.numTasks(),
                "kernel": kernel,
                "task_ms": task_ms,
            })
    covered_ms, end = 0, None
    for lo, hi in sorted(intervals):
        lo = lo if end is None else max(lo, end)
        if hi > lo:
            covered_ms += hi - lo
            end = hi
    return {"jobs": len(job_ids), "stages": stages, "stage_cover_s": covered_ms / 1000.0}
