"""Outside-in tracing for the traced benchmark run.

``Tracer.install()`` wraps public functions of the engine's layers in place
(class attributes and module attributes), so nothing under the program's own
package changes. Each call becomes a span — name, start, end, parent span,
operation id — and runs its Spark jobs under a job group unique to the span,
set in the calling thread. The group is what attributes jobs to a span when
the call runs on a pool thread (the engine's concurrent state writes do).

Spark counts come from ``statusTracker`` when a span ends. Executor core
seconds come from the session's event log, read after the session stops
(``core_s_by_job``). ``uninstall()`` restores every wrapped attribute.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    group: str = ""
    prev_group: str | None = None
    jobs: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list = []
        self._counted_stages: set = set()

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str) -> Span:
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's open span
        parent_stack = stack or self._main_stack
        parent = parent_stack[-1] if parent_stack else None
        with self._lock:
            sid = len(self.spans)
            # a top-level span starts an operation; its descendants share the id
            op = parent.op if parent else f"{name}#{sid}"
            sp = Span(sid, name, parent.id if parent else None, op, time.perf_counter())
            self.spans.append(sp)
        sp.group = f"bench-span-{sp.id}"
        sp.prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        self.sc.setLocalProperty("spark.jobGroup.id", sp.prev_group)
        sp.jobs = sorted(self.tracker.getJobIdsForGroup(sp.group) or [])
        sp.stages, sp.tasks = self.stage_task_counts(sp.jobs)

    def stage_task_counts(self, job_ids) -> tuple[int, int]:
        """Stages that ran and their tasks. A job also lists the stages it
        reused from earlier jobs; each stage counts once, for the first span
        that ends with it, and a stage that never ran completed no tasks."""
        stage_ids = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        with self._lock:  # spans on pool threads end concurrently
            stage_ids -= self._counted_stages
            self._counted_stages |= stage_ids
        stages = tasks = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return stages, tasks

    # -- wrapping -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def install(self) -> "Tracer":
        from ghcrawler_spark.operators import cuckoo, seen
        from ghcrawler_spark.plans import round_engine
        from ghcrawler_spark.sources import snapshot
        from ghcrawler_spark.streaming import event_source

        eng = round_engine.CrawlEngine
        store = snapshot.SnapshotStore
        for owner, attr, name in [
            (eng, "seed", "round_engine.seed"),
            (eng, "run_round", "round_engine.run_round"),
            (eng, "status", "round_engine.status"),
            (store, "write_tables", "snapshot.write_tables"),
            (store, "write_append", "snapshot.write_append"),
            (store, "commit", "snapshot.commit"),
            (seen.BloomShardSet, "merged", "seen.merged"),
            (seen.BloomShardTable, "merged", "seen.merged"),
            (cuckoo.CuckooShardTable, "merged", "seen.merged"),
            (event_source, "events_to_staged_rows", "streaming.events_to_staged_rows"),
        ]:
            self.wrap(owner, attr, name)
        return self

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- reporting ------------------------------------------------------------

    def children(self, sp: Span) -> list:
        return [c for c in self.spans if c.parent == sp.id]

    def subtree(self, sp: Span) -> list:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: Span) -> float:
        """Wall minus the part of it that direct children cover. Children on
        pool threads overlap each other, so their intervals are merged."""
        covered, end = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, end), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                end = hi
        return sp.wall - covered

    def dump(self, path: str, core_s_by_job: dict) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent, "op": sp.op,
                    "start": sp.start, "end": sp.end, "wall_s": sp.wall,
                    "self_s": self.self_time(sp), "jobs": len(sp.jobs),
                    "stages": sp.stages, "tasks": sp.tasks,
                    "core_s": sum(core_s_by_job.get(j, 0.0) for j in sp.jobs),
                }) + "\n")


def traced_conf(log_dir: str) -> dict:
    """Session settings of the traced run: an event log for executor times,
    and enough retained jobs and stages for ``statusTracker`` to still know
    a span's jobs when it ends."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def core_s_by_job(log_dir: str) -> dict:
    """{job id: executor run seconds} from the (stopped) session's event log."""
    stage_job: dict = {}
    run_ms: dict = {}
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith(".")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                    run_ms[ev["Stage ID"]] = run_ms.get(ev["Stage ID"], 0) + ms
    out: dict = {}
    for s, ms in run_ms.items():
        j = stage_job.get(s)
        if j is not None:
            out[j] = out.get(j, 0.0) + ms / 1000.0
    return out
