"""Spans around calls into the engine's layers, Spark's own per-stage metrics
for the jobs each span launched, and a /proc memory sampler.

Spans are recorded from outside the engine: a ``SnapStore`` subclass passed
into ``FrontierEngine`` wraps ``write_df``/``commit``/``compact_seen``, the
engine's ``bloom`` instance gets a wrapped ``merge_blob_map``, and the
workloads wrap their own calls into ``sources``. When job tagging is on,
each span runs its Spark jobs under a job group of its own, so the status
store (which Spark keeps even with the UI disabled) attributes every stage
to exactly one span. Spans stay in memory; the caller folds them after the
timed iteration.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

from warc_spark.plans.snapstore import SnapStore

SPAN_FIELDS = {
    "wall_s": "s", "cpu_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "jobs": "count",
    "task_skew": "ratio",
}


class Tracer:
    """Span recorder. ``jobs=True`` also tags each span's Spark jobs with a
    job group; with ``jobs=False`` spans only take timestamps, which is what
    the untraced run needs for its commit intervals and phase rates."""

    def __init__(self, sc=None, jobs: bool = False):
        self.sc = sc
        self.jobs = jobs and sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.batch = 0
        self.idle_groups: dict[int, str] = {}

    def _set_group(self, group: str | None) -> None:
        if self.jobs and group is not None:
            self.sc.setJobGroup(group, group)

    def _enclosing_group(self) -> str | None:
        for rec in reversed(self._stack):
            if rec["group"] is not None:
                return rec["group"]
        return self.idle_groups.get(self.batch, "perfbench-untracked")

    @contextmanager
    def span(self, name: str, batch: int | None = None, tag_jobs: bool = True):
        self._seq += 1
        rec = {
            "id": self._seq, "name": name, "batch": batch,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self._seq}" if self.jobs and tag_jobs else None,
        }
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            self._set_group(self._enclosing_group())

    def enter_batch(self, batch: int) -> None:
        """Jobs launched outside every call span belong to ``batch``'s
        unattributed remainder (the sliver count, frontier read-back)."""
        self.batch = batch
        self._seq += 1
        self.idle_groups[batch] = f"perfbench-{self._seq}-idle"
        if not any(r["group"] for r in self._stack):
            self._set_group(self.idle_groups[batch])

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def descendants(self, rec: dict) -> list[dict]:
        out = []
        for c in self.children(rec):
            out += [c] + self.descendants(c)
        return out


def dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


class RecordingStore(SnapStore):
    """The engine's snapshot store, with a span around each layer call and
    the return time of every commit (the batch cadence)."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.commit_times: list[float] = []

    def write_df(self, df, batch, name):
        with self.tracer.span(f"plans.snapstore.write_df.{name}", batch) as rec:
            info = super().write_df(df, batch, name)
            rec["rows"] = info["rows"]
        return info

    def commit(self, batch, tables, metrics, config):
        with self.tracer.span("plans.snapstore.commit", batch):
            super().commit(batch, tables, metrics, config)
        self.commit_times.append(time.perf_counter())
        self.tracer.enter_batch(batch + 1)

    def compact_seen(self, spark, upto):
        with self.tracer.span("plans.snapstore.compact_seen", upto):
            return super().compact_seen(spark, upto)


def wrap_merge_blob_map(bloom, tracer: Tracer) -> None:
    """Shadow the engine's ``bloom.merge_blob_map`` with a timed wrapper
    (driver-local: it launches no Spark job)."""
    inner = bloom.merge_blob_map

    def merge_blob_map(*args, **kwargs):
        with tracer.span("operators.seen.merge_blob_map", tracer.batch, tag_jobs=False):
            return inner(*args, **kwargs)

    bloom.merge_blob_map = merge_blob_map


# ---- Spark status store ----------------------------------------------------

class StageLedger:
    """Completed stages of the current SparkContext, each owned by the job
    group of the first job that lists it (a shuffle stage reused by a later
    job is listed there too, but ran only once)."""

    def __init__(self, sc, groups):
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        seq = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        group_jobs = {g: list(tracker.getJobIdsForGroup(g)) for g in groups}
        owner: dict[int, str] = {}
        for job, group in sorted((j, g) for g, js in group_jobs.items() for j in js):
            info = tracker.getJobInfo(job)
            for sid in (list(info.stageIds) if info else []):
                owner.setdefault(int(sid), group)
        self.jobs = {g: len(js) for g, js in group_jobs.items()}
        self.stages: dict[str, list[dict]] = {g: [] for g in groups}
        for i in range(seq.length()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid not in owner or str(s.status()) != "COMPLETE":
                continue
            self.stages[owner[sid]].append({
                "id": sid, "attempt": s.attemptId(),
                "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
                "shuffle_w": s.shuffleWriteBytes(), "shuffle_r": s.shuffleReadBytes(),
                "spill": s.diskBytesSpilled(), "tasks": s.numCompleteTasks(),
            })
        self._store, self._gw = store, gw

    def task_skew(self, stage: dict) -> float:
        """max / p50 task run time of one stage."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage["id"], stage["attempt"], q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        p50, top = run.apply(0), run.apply(1)
        return top / p50 if p50 > 0 else 1.0

    def fold(self, groups, wall_s: float) -> dict:
        """The SPAN_FIELDS row for the jobs of ``groups``."""
        stages = [s for g in groups for s in self.stages.get(g, [])]
        heavy = max(stages, key=lambda s: s["run_ms"], default=None)
        return {
            "wall_s": wall_s,
            "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "shuffle_write_mb": sum(s["shuffle_w"] for s in stages) / 1e6,
            "shuffle_read_mb": sum(s["shuffle_r"] for s in stages) / 1e6,
            "spill_mb": sum(s["spill"] for s in stages) / 1e6,
            "jobs": sum(self.jobs.get(g, 0) for g in groups),
            "task_skew": self.task_skew(heavy) if heavy else 0.0,
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
        }


def span_groups(tracer: Tracer, rec: dict) -> list[str]:
    """Job groups of a span and everything nested in it."""
    return [s["group"] for s in [rec] + tracer.descendants(rec) if s["group"]]


def sum_rows(rows: list[dict]) -> dict:
    """Per-iteration total of several span rows (task_skew: the worst)."""
    out = {k: sum(r[k] for r in rows) for k in SPAN_FIELDS if k != "task_skew"}
    out["task_skew"] = max((r["task_skew"] for r in rows), default=0.0)
    return out


def median_rows(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in SPAN_FIELDS}


# ---- memory ------------------------------------------------------------------

class PeakPss:
    """Peak summed proportional set size (Pss: resident pages, each shared
    page split among the processes sharing it) of this process and all its
    descendants: the JVM and the Python workers, which the worker daemon
    forks and which share most of their pages. Summed RSS would count those
    shared pages once per live worker. Sampled from /proc on a daemon thread.
    """

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_pss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())
