"""Per-layer spans for traced runs, recorded from outside the program.

A span is (name, start, end, parent, thread), kept in memory and turned
into metrics after the run. Each span runs its Spark jobs under its own
job group (a thread-local property), so after the run every job, and
through it every stage, is attributed to the innermost span that started
it. Stage metrics come from the application status store, which Spark
keeps with the UI disabled.

Where the wrappers go matters:
- ``select_fetch_batch``, ``fetch_scheduled``, ``admit``, ``with_sequence``
  and ``init_crawl`` are looked up in ``plans.frontier_loop``'s globals at
  call time, so they are patched there;
- ``build_bloom_delta``, ``merge_blooms`` and ``aggregate_robots_rules``
  are imported inside ``run_crawl`` on every call, so they are patched on
  their defining modules;
- ``BatchStore`` methods are patched on the class.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench/"
_JOB_GROUP = "spark.jobGroup.id"

# BatchStore tables written with their own span; the small state tables
# (frontier snapshot, budget, strategy, hostlat) share storage.write.state
_OWN_WRITE_SPANS = ("fetched", "admitted", "frontier_delta")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patches: list = []
        self.spans: list[Span] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        """Record one span. A ``root`` span also parents the spans of
        threads that have none open (the engine's background pool)."""
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                      stack[-1] if stack else self._root, threading.get_ident())
            self.spans.append(sp)
        prev_group = self._sc.getLocalProperty(_JOB_GROUP)
        prev_root = self._root
        self._sc.setLocalProperty(_JOB_GROUP, f"{GROUP_PREFIX}{sp.id}")
        stack.append(sp.id)
        if root:
            self._root = sp.id
        try:
            yield sp
        finally:
            if root:
                self._root = prev_root
            stack.pop()
            self._sc.setLocalProperty(_JOB_GROUP, prev_group)
            sp.end = time.perf_counter()

    def _wrap(self, owner, attr: str, name_of, root: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_of(args, kwargs), root=root):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install_crawl_layers(self) -> None:
        from crawler_distributed_spark import storage
        from crawler_distributed_spark.operators import admission, seen_filter
        from crawler_distributed_spark.plans import frontier_loop

        def fixed(name):
            return lambda args, kwargs: name

        def write_name(args, kwargs):
            table = args[3] if len(args) > 3 else kwargs["table"]
            return f"storage.write.{table if table in _OWN_WRITE_SPANS else 'state'}"

        store = storage.BatchStore
        self._wrap(store, "write_table", write_name)
        for attr in ("commit", "compact_seen", "read_frontier", "read_seen"):
            self._wrap(store, attr, fixed(f"storage.{attr}"))
        for attr, layer in (
            ("select_fetch_batch", "politeness"),
            ("fetch_scheduled", "fetch"),
            ("admit", "admission"),
            ("with_sequence", "sequence"),
            ("init_crawl", "frontier_loop"),
        ):
            self._wrap(frontier_loop, attr, fixed(f"{layer}.{attr}"))
        self._wrap(frontier_loop, "run_crawl", fixed("frontier_loop.run_crawl"), root=True)
        for attr in ("build_bloom_delta", "merge_blooms"):
            self._wrap(seen_filter, attr, fixed(f"seen_filter.{attr}"))
        self._wrap(admission, "aggregate_robots_rules",
                   fixed("admission.aggregate_robots_rules"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # --- after the run ----------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.by_name(name))

    def self_s(self, name: str) -> float:
        """Σ over spans of ``name``: duration minus the part of it that
        its direct children (any thread) cover."""
        total = 0.0
        for sp in self.by_name(name):
            kids = sorted(
                (max(c.start, sp.start), min(c.end, sp.end))
                for c in self.spans if c.parent == sp.id
            )
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in kids:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += (sp.end - sp.start) - covered
        return total


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0          # Σ executorRunTime: busy core-seconds
    shuffle_write_b: int = 0
    spill_b: int = 0            # bytes spilled to disk

    def add(self, other: "StageTotals") -> "StageTotals":
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        return self


def last_job_id(sc) -> int:
    ids = [j.jobId() for j in _jobs(sc)]
    return max(ids, default=-1)


def _jobs(sc) -> list:
    jsc = sc._jsc.sc()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(jsc.statusStore().jobsList(None)))


def job_totals(sc, ranges: list[tuple[int, int]]) -> dict[str | None, StageTotals]:
    """Stage totals per job group over the jobs with ``lo < id <= hi`` for
    each (lo, hi) in ``ranges``. Key None holds jobs that ran outside any
    span. Each stage counts once, under the first job that lists it (later
    jobs list it as skipped)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[str | None, StageTotals] = {}
    seen_stages: set[int] = set()
    jobs = sorted((j for j in _jobs(sc)
                   if any(lo < j.jobId() <= hi for lo, hi in ranges)),
                  key=lambda j: j.jobId())
    for job in jobs:
        group = job.jobGroup()
        key = group.get() if group.isDefined() else None
        if key is not None and not key.startswith(GROUP_PREFIX):
            key = None
        tot = out.setdefault(key, StageTotals())
        tot.jobs += 1
        for sid in conv.asJava(job.stageIds()):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted: nothing ran
                continue
            if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                continue  # skipped
            tot.stages += 1
            tot.tasks += st.numCompleteTasks()
            tot.failed_tasks += st.numFailedTasks()
            tot.run_s += st.executorRunTime() / 1000.0
            tot.shuffle_write_b += st.shuffleWriteBytes()
            tot.spill_b += st.diskBytesSpilled()
    return out


def storage_memory_used_b(sc) -> int:
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return sum(e.memoryUsed() for e in conv.asJava(store.executorList(True)))
