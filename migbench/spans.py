"""Layer spans for the traced run, recorded from the benchmark's side.

``Tracer.patch`` swaps a module attribute for a wrapper that records a
span around every call.  The program looks these functions up at call
time (``pgdump.migrate_pg_dump``, module globals such as
``convert_table``), so the wrappers see every call the entry point
makes.  Spans stay in memory; ``spark_jobs`` reads Spark's status
store once the traced iteration is over and attributes each job to the
innermost span open at its submission time.  Job groups are not used:
the program submits some jobs from its own thread pools, which do not
inherit the calling thread's group.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    depth: int = 0
    parent: int = -1
    jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced iteration, plus the values some wrapped
    calls returned (``keep``), for counts read after the run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.returned: dict[str, list] = {}
        self._local = threading.local()
        self._patched: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(name, time.time(), depth=len(stack),
                  parent=stack[-1] if stack else -1)
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def patch(self, module, attr: str, name: str, keep: bool = False):
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if keep:
                self.returned.setdefault(name, []).append(out)
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- aggregation -------------------------------------------------------

    def _descendants(self, i: int) -> set:
        out = {i}
        for j, sp in enumerate(self.spans):
            if sp.parent in out:
                out.add(j)
        return out

    def wall(self, name: str) -> float:
        return sum(sp.wall for sp in self.spans if sp.name == name)

    def self_wall(self, name: str) -> float:
        """Wall time of ``name`` spans minus their direct children."""
        total = 0.0
        for i, sp in enumerate(self.spans):
            if sp.name != name:
                continue
            total += sp.wall - sum(c.wall for c in self.spans
                                   if c.parent == i)
        return total

    def attribute(self, jobs: list) -> None:
        """Give each job to the innermost span open at its submission;
        jobs outside every span are left unattributed."""
        for job in jobs:
            best = None
            for sp in self.spans:
                if sp.start <= job["submit"] <= sp.end and (
                        best is None or sp.depth > best.depth):
                    best = sp
            if best is not None:
                best.jobs.append(job)

    def status(self, name: str) -> dict:
        """Status-store totals over the jobs of every ``name`` span and
        its descendants."""
        idx = set()
        for i, sp in enumerate(self.spans):
            if sp.name == name:
                idx |= self._descendants(i)
        jobs = [j for i in sorted(idx) for j in self.spans[i].jobs]
        keys = ("stages", "tasks", "exec_run_s", "exec_cpu_s",
                "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "gc_s")
        out = {k: sum(j[k] for j in jobs) for k in keys}
        out["jobs"] = len(jobs)
        # time inside Spark jobs (union of job intervals) vs the rest
        in_jobs = 0.0
        last = float("-inf")
        for s, e in sorted((j["submit"], j["end"]) for j in jobs):
            if e > last:
                in_jobs += e - max(s, last)
                last = e
        out["exec_s"] = in_jobs
        out["driver_s"] = max(self.wall(name) - in_jobs, 0.0)
        return out


def spark_jobs(spark, since: float, until: float) -> list:
    """Completed jobs submitted in [since, until] with their stage
    totals, read from the status store (live with the UI disabled)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jl = store.jobsList(None)
    out = []
    for i in range(jl.size()):
        job = jl.apply(i)
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or comp.isEmpty():
            continue
        t0 = sub.get().getTime() / 1000.0
        if not since <= t0 <= until:
            continue
        rec = {"submit": t0, "end": comp.get().getTime() / 1000.0,
               "stages": 0, "tasks": 0, "exec_run_s": 0.0,
               "exec_cpu_s": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
        sids = job.stageIds()
        for k in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(k))
            if st.status().toString() != "COMPLETE":
                continue            # skipped: its shuffle output was reused
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["exec_run_s"] += st.executorRunTime() / 1e3
            rec["exec_cpu_s"] += st.executorCpuTime() / 1e9
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
            rec["gc_s"] += st.jvmGcTime() / 1e3
        out.append(rec)
    return out
