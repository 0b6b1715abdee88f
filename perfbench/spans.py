"""Spans around the benchmark's calls into the package, with Spark counters.

A span records a name, its layer, start and end, and its parent.  While
tracing is on, every span runs under its own Spark job group, and once
it ends the jobs of that group are read back from the status store
(which works with the Spark UI off).  The jobs become child spans of
layer `spark`, and their stages are summed into the span's counters.

Counters are read right after the span ends, under its own group, so
the status store cannot have dropped them to its retention limits
unless one span launched more jobs or stages than the limits allow.
The check for that compares the group's jobs with the job ids the
scheduler handed out while the span was open, and reads every stage of
those jobs: a missing job or stage was evicted, and `EvictedError` is
raised.

With tracing off a span only runs its function, so the untraced run
pays for nothing but a function call.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "output_bytes",
    "output_records",
)


class EvictedError(RuntimeError):
    """The status store dropped jobs or stages before they were read."""


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)
    # ids of the jobs run under this span's descendants' groups
    claimed: set = field(default_factory=set)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None  # spans before `bind` record no Spark counters

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(
            len(self.spans),
            name,
            self._stack[-1].id if self._stack else None,
            time.time(),
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._sc
        first_job = self._next_job_id() if sc is not None else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self._read_group(sp, first_job)

    # -- status store --------------------------------------------------

    def _next_job_id(self) -> int:
        # The number of jobs the scheduler has handed out, as an Int.
        return int(self._sc._jsc.sc().dagScheduler().numTotalJobs())

    def _read_group(self, sp: Span, first_job: int) -> None:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(f"perfbench-{sp.id}"))
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            stages = list(sc.statusTracker().getJobInfo(jid).stageIds)
            stage_ids.update(stages)
            child = Span(len(self.spans), "spark.job", sp.id, sp.start, sp.end)
            if job.submissionTime().isDefined():
                child.start = job.submissionTime().get().getTime() / 1e3
            if job.completionTime().isDefined():
                child.end = job.completionTime().get().getTime() / 1e3
            child.attrs = {"job_id": jid, "stages": len(stages)}
            self.spans.append(child)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError as exc:  # NoSuchElementException in the JVM
                raise EvictedError(f"{sp.name}: stage {sid} left the status store") from exc
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["input_bytes"] += st.inputBytes()
            c["input_records"] += st.inputRecords()
            c["output_bytes"] += st.outputBytes()
            c["output_records"] += st.outputRecords()
        # Jobs of child spans carry the child's group, so only the ids
        # no descendant claimed belong to this span.
        missing = set(range(first_job, self._next_job_id())) - sp.claimed - set(job_ids)
        if missing:
            raise EvictedError(
                f"{sp.name}: jobs {sorted(missing)[:5]} of its group left the status store"
            )
        if sp.parent is not None:
            self.spans[sp.parent].claimed |= sp.claimed | set(job_ids)
        sp.counters = c


def self_seconds(spans: list[Span], sp: Span) -> float:
    """`sp`'s duration minus the part of it its children cover."""
    ivs = sorted(
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in spans
        if c.parent == sp.id
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return sp.seconds - covered


def subtree_counters(spans: list[Span], sp: Span) -> dict:
    """Counters of `sp` plus those of all its descendant spans."""
    total = dict(sp.counters) or dict.fromkeys(COUNTERS, 0)
    for c in spans:
        if c.parent == sp.id and c.name != "spark.job":
            for k, v in subtree_counters(spans, c).items():
                total[k] = total.get(k, 0) + v
    return total
