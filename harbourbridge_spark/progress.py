"""A8: console percent-progress meter over an input-bytes denominator.

``Progress`` reproduces the reference's progress reporter
(/root/reference/internal/progress.go:24-85) exactly: integer percent
of ``progress/total``, printed only when the integer percent advances,
overwriting the previous percentage in place (or one line per report
in verbose mode), ``done()`` forcing 100%.

``MigrationProgress`` + ``track_table_job`` supply the Spark wiring:
the denominator is the total input bytes of the migration (the same
quantity the reference tracks per-table while copying rows), each
table contributes the bytes its conversion reads, and while a
table's conversion JOB is running a background poller maps the job's
completed-task fraction into that table's byte span so percent
advances *during* long writes, not just between tables.

Why a StatusTracker poller and not a SparkListener subclass: core
``SparkListener`` callbacks can only be implemented JVM-side (a
Python implementation needs the py4j callback server, which PySpark
does not enable by default); ``sc.statusTracker()`` is PySpark's
public monitoring API over the very same listener-bus data
(jobs -> stages -> completed task counts), polled instead of pushed.
The meter consumes identical information, driver-side, with no extra
JVM classes to ship.
"""

from __future__ import annotations

import sys
import threading
import time
from typing import Optional, TextIO


class Progress:
    """Percentage progress for one long-running task.

    Faithful to internal/progress.go:24-85: ``maybe_report`` is
    monotone (regressions in the measure are ignored), only integer
    percent *increases* print, 100% appends a newline, and a zero
    total is complete immediately.
    """

    def __init__(self, total: int, message: str, verbose: bool = False,
                 out: Optional[TextIO] = None) -> None:
        self.total = total
        self.progress = 0
        self.pct = 100 if total == 0 else 0
        self.message = message
        self.verbose = verbose
        self.out = out if out is not None else sys.stdout
        self._report(first_call=True)

    def maybe_report(self, progress: int) -> None:
        if progress > self.progress:
            self.progress = progress
            pct = (self.progress * 100) // self.total if self.total > 0 \
                else 100
            pct = min(pct, 100)
            if pct > self.pct:
                self.pct = pct
                self._report(first_call=False)

    def done(self) -> None:
        self.maybe_report(self.total)

    def _report(self, first_call: bool) -> None:
        if self.verbose:
            self.out.write(f"{self.message}: {self.pct:2d}%\n")
            self.out.flush()
            return
        if first_call:
            self.out.write(f"{self.message}: {self.pct:2d}%")
        else:
            self.out.write(f"\b\b\b{self.pct:2d}%")
        # the reference appends the newline whenever pct==100, including
        # on the first call — a zero-total task prints "msg: 100%\n"
        # (internal/progress.go:72-85)
        if self.pct == 100:
            self.out.write("\n")
        self.out.flush()


class MigrationProgress:
    """Progress over a whole migration, denominated in input bytes.

    ``sizes`` maps each table to the bytes its conversion reads (its
    staged file, or the dump byte ranges and sequenced values a
    distributed pass reads), mirroring the reference's per-table byte
    accounting.
    """

    def __init__(self, sizes: dict, message: str = "Writing data",
                 verbose: bool = False,
                 out: Optional[TextIO] = None) -> None:
        self.sizes = dict(sizes)
        self.progress = Progress(sum(self.sizes.values()), message,
                                 verbose, out)
        self._done_bytes = 0
        # bytes done so far of each table still being written; several
        # tables write at once, so the reported measure is their sum
        self._inflight: dict = {}
        # task_tick runs on the track_table_job poller threads while
        # table_done runs on the writing threads; a single coarse lock
        # keeps the pct-compare-and-write sequence atomic
        # (display-only state).
        self._lock = threading.Lock()

    def task_tick(self, table: str, fraction: float) -> None:
        """In-flight update: ``fraction`` of ``table``'s span is done."""
        fraction = min(max(fraction, 0.0), 1.0)
        span = self.sizes.get(table, 0)
        with self._lock:
            self._inflight[table] = int(span * fraction)
            self.progress.maybe_report(
                self._done_bytes + sum(self._inflight.values()))

    def table_done(self, table: str) -> None:
        with self._lock:
            self._inflight.pop(table, None)
            self._done_bytes += self.sizes.get(table, 0)
            self.progress.maybe_report(
                self._done_bytes + sum(self._inflight.values()))

    def done(self) -> None:
        with self._lock:
            self.progress.done()


class track_table_job:
    """Context manager: while the body runs Spark jobs for ``table``,
    poll the StatusTracker and feed completed-task fractions into the
    meter; on exit credit the table's full span.

    Uses a Spark job group so only the body's jobs are counted —
    concurrent work in the same session does not skew the meter.
    """

    def __init__(self, spark, meter: MigrationProgress, table: str,
                 poll_interval: float = 0.1) -> None:
        self.sc = spark.sparkContext
        self.meter = meter
        self.table = table
        self.interval = poll_interval
        self.group = f"hb-progress-{table}-{id(self)}"
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _poll(self) -> None:
        tracker = self.sc.statusTracker()
        while not self._stop.is_set():
            try:
                done = total = 0
                for jid in tracker.getJobIdsForGroup(self.group):
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        s = tracker.getStageInfo(sid)
                        if s is None or s.numTasks == 0:
                            continue
                        done += s.numCompletedTasks
                        total += s.numTasks
                if total > 0:
                    self.meter.task_tick(self.table, done / total)
            except Exception:
                # monitoring must never fail the migration
                pass
            self._stop.wait(self.interval)

    def __enter__(self) -> "track_table_job":
        self.sc.setJobGroup(self.group, f"write {self.table}")
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        # job-group keys are thread-local driver state; reset them
        self.sc.setJobGroup("", "")
        if exc_type is None:
            self.meter.table_done(self.table)
