"""Status-store ledger for a block of work.

``ledger(spark)`` times a block and, on a normal exit, reads Spark's
status store (live with the UI disabled, no JVM classes to ship) for
the jobs submitted inside it.  Jobs are attributed by submission
time, not by job group: work the library submits from its own thread
pools does not inherit the calling thread's group.  Stages whose
status is not ``COMPLETE`` are skipped (a skipped stage's shuffle
output was reused).  ``exec_s`` is the union of the job intervals
inside the block and ``driver_s`` the rest of its wall time.

Nothing on the migration or near-dup path imports this module; the
profiler (``tools/profile_entries.py``) and ``bench.py``'s detail
file do.
"""

from __future__ import annotations

import contextlib
import math
import time

from py4j.protocol import Py4JJavaError

KEYS = ("wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "gc_s", "exec_s", "driver_s")

# the status store lists jobs newest first; a job id is taken a few
# microseconds before its submission time is stamped, so scanning
# stops once submissions are this far older than the block
_ORDER_SLACK_MS = 1000


def read_ledger(spark, since: float, until: float) -> dict:
    """Ledger of the jobs submitted in ``[since, until]`` (epoch
    seconds), read once the listener bus has delivered their events."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    lo, hi = math.floor(since * 1000), math.ceil(until * 1000)
    out = {k: 0.0 if k.endswith("_s") else 0 for k in KEYS}
    spans = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        job = jl.apply(i)
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isEmpty():
            continue
        t0 = sub.get().getTime()
        if t0 < lo - _ORDER_SLACK_MS:
            break
        if not lo <= t0 <= hi or comp.isEmpty():
            continue
        out["jobs"] += 1
        spans.append((t0, min(comp.get().getTime(), hi)))
        sids = job.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Py4JJavaError:
                # evicted past spark.ui.retainedStages; skipped stages
                # go first, so below that many stages per block this
                # is a stage the job skipped
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
            out["gc_s"] += st.jvmGcTime() / 1e3
    in_jobs, last = 0, lo
    for s, e in sorted(spans):
        if e > last:
            in_jobs += e - max(s, last)
            last = e
    out["wall_s"] = until - since
    out["exec_s"] = min(in_jobs / 1e3, out["wall_s"])
    out["driver_s"] = out["wall_s"] - out["exec_s"]
    return {k: round(v, 3) if isinstance(v, float) else v
            for k, v in out.items()}


@contextlib.contextmanager
def ledger(spark):
    """Yield a dict that holds the block's ledger (``KEYS``) once the
    block exits normally; a block that raises leaves it empty."""
    led: dict = {}
    since = time.time()
    yield led
    led.update(read_ledger(spark, since, time.time()))
