"""Spans, Spark status-store attribution and a process-tree RSS sampler.

Spans are recorded from the benchmark's own code around each call into a
layer (name, start, end, parent). The benchmark makes one call at a time,
so the Spark jobs a span caused are the jobs submitted between its start
and its end; they are read back from the SparkContext's status store
(``statusStore().job`` / ``lastStageAttempt``), which Spark keeps populated
with ``spark.ui.enabled=false``. Spans live in memory and are written as
JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "python_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _interval_union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class SparkJobs:
    """Reads per-job and per-stage metrics of the jobs submitted since the
    last call, through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.seen = max(self._job_ids(), default=-1)

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def new_jobs(self) -> dict:
        """Totals over the jobs submitted since the previous call: job,
        stage and task counts, executor run time, JVM CPU time, the Python
        share (run minus CPU: time a task spent outside the JVM's own CPU,
        mostly waiting on Python workers), bytes, spill, and the job
        intervals the ``driver_gap_s`` total needs."""
        # the status store is fed asynchronously by the listener bus: let it
        # catch up with the job and task end events first
        self.bus.waitUntilEmpty()
        ids = sorted(j for j in self._job_ids() if j > self.seen)
        out = {"jobs": len(ids), "stages": 0, "intervals": []}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        stages = set()
        for jid in ids:
            job = self.store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["intervals"].append(
                    (job.submissionTime().get().getTime() / 1e3,
                     job.completionTime().get().getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never run
                continue
            if s.status().toString() == "SKIPPED":
                continue
            run, cpu = s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["run_s"] += run
            out["cpu_s"] += cpu
            out["python_s"] += max(0.0, run - cpu)
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if ids:
            self.seen = ids[-1]
        return out


class Tracer:
    """In-memory spans. ``enabled=False`` makes ``span`` a plain timer that
    records nothing and never touches the status store, which is how the
    untraced (end-to-end) runs are measured."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.jobs = SparkJobs(spark) if enabled and spark is not None else None
        self.overhead_s = 0.0  # time spent reading the status store

    @contextmanager
    def span(self, name: str, **attrs):
        top = not self._stack
        if self.enabled and self.jobs is not None and top:
            t = time.perf_counter()
            self.jobs.new_jobs()  # drop the jobs of untraced work before
            self.overhead_s += time.perf_counter() - t
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()
                # only top-level spans read the store: the benchmark runs
                # one call at a time, so a top-level span owns every job
                # submitted inside it, nested ones included
                if self.jobs is not None and top:
                    t = time.perf_counter()
                    rec["spark"] = self.jobs.new_jobs()
                    self.overhead_s += time.perf_counter() - t

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def spark_totals(self) -> dict:
        """Sums over the top-level spans so far, with ``driver_gap_s`` =
        span wall minus the union of its job intervals."""
        tot = {"jobs": 0, "stages": 0, "driver_gap_s": 0.0, "wall_s": 0.0}
        tot.update({k: 0.0 for k in STAGE_FIELDS})
        for s in self.spans:
            if s["parent"] is not None or "spark" not in s:
                continue
            sp = s["spark"]
            for k in ("jobs", "stages", *STAGE_FIELDS):
                tot[k] += sp[k]
            iv = [(max(a, s["start"]), min(b, s["end"]))
                  for a, b in sp["intervals"]]
            tot["driver_gap_s"] += s["wall_s"] - _interval_union(
                [(a, b) for a, b in iv if b > a])
            tot["wall_s"] += s["wall_s"]
        return tot

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1,
                      default=str)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident set of ``root`` and all its descendants (the JVM and its
    Python workers hang below the benchmark process), as (total, JVM)."""
    kids = _children()
    total, jvm, todo = 0, 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
        except (OSError, IndexError, ValueError):
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak`` is
    the largest total seen, ``peak_jvm`` the JVM's share at that sample."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            total, jvm = tree_rss_bytes(pid)
            if total > self.peak:
                self.peak, self.peak_jvm = total, jvm
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
