"""Batched, error-isolating writer (K1/K2).

Re-expresses the reference's BatchWriter
(/root/reference/spanner/batchwriter.go) in Spark's execution model:

- the reference buffers rows on one machine and cuts batches at 10,000
  mutations / 20 MB (batchwriter.go:35-38), running <=40 concurrent
  async writes (conversion/conversion.go:92-97). In Spark, *task
  parallelism replaces the async write pool*: each partition runs the
  same batching loop independently, so total in-flight writes =
  number of concurrent tasks (bounded by executor slots, not a
  hand-rolled semaphore).
- error isolation keeps the reference's retry-splitting semantics
  (doWriteAndHandleErrors, batchwriter.go:248-280): a failing batch is
  split into 10 sub-batches, recursing down to single rows so only the
  truly-bad rows are dropped; a per-writer retry budget bounds work.
- dropped-row counts and samples surface through Spark accumulators
  (the analogue of droppedRowsFirstN / stats counters,
  batchwriter.go:217-244).
- fed a conversion's pre-split relation (typed columns + ERRS_COL +
  SRC_COL, see convert.ConversionResult.pre), the loop also routes
  rows that failed conversion into a conversion-bad count and a
  first-N sample, so the bad rows are found in the same pass that
  writes the good ones (conversion.go:661-706 records bad rows during
  its one data pass too).

The write target is any picklable callable ``write(rows) -> None``
that raises on failure — the same injection seam the reference's tests
use (batchwriter_test.go:32-234).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame

from ..convert import ERRS_COL, SRC_COL

# Thresholds mirror spanner/batchwriter.go:35-38 (Spanner hard limits
# are 20,000 mutations / 100 MB per op; we cut at half / a fifth).
DEFAULT_COUNT_THRESHOLD = 10_000
DEFAULT_BYTE_THRESHOLD = 20 * 1024 * 1024
DEFAULT_RETRY_LIMIT = 1_000
SPLIT_FACTOR = 10  # split failing batches into 10 sub-batches


@dataclass
class BatchWriterConfig:
    count_threshold: int = DEFAULT_COUNT_THRESHOLD
    byte_threshold: int = DEFAULT_BYTE_THRESHOLD
    retry_limit: int = DEFAULT_RETRY_LIMIT


MAX_DROP_SAMPLES = 100      # first-N dropped-row samples (the writer
                            # analogue of droppedRowsFirstN / K7's cap)


MAX_ERROR_KINDS = 100   # bound the distinct-error map (the reference's
                        # errors map is unbounded; a poisoned run with
                        # per-row unique messages must not OOM the driver)


@dataclass
class WriteStats:
    batches: int
    rows_written: int
    rows_dropped: int       # rejected by the writer only
    retries: int
    dropped_samples: list = None
    errors: dict = None     # error string -> count, batchwriter.go
                            # Errors() parity (per failing write call)
    rows_bad: int = 0       # failed conversion (quarantined)
    bad_samples: list = None    # first-N of those, as dicts: source
                                # columns + ERRS_COL


def _error_key(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:200]


def _row_bytes(row) -> int:
    # cheap byte estimate, mirroring the reference's rowSize accounting
    n = 0
    for v in row:
        if v is None:
            continue
        if isinstance(v, (bytes, bytearray, str)):
            n += len(v)
        else:
            n += 8
    return n


def run_batching_loop(rows_iter, write: Callable[[list], None],
                      cfg: BatchWriterConfig,
                      add_batches: Callable[[int], None],
                      add_written: Callable[[int], None],
                      add_dropped: Callable[[int], None],
                      add_retries: Callable[[int], None],
                      add_samples: Callable[[list], None],
                      add_errors: Callable[[dict], None] = lambda d: None,
                      add_bad: Optional[Callable[[int, list], None]] = None,
                      ) -> None:
    """The per-partition batching + retry-splitting loop, factored out
    so the distributed path (foreachPartition, counters = Spark
    accumulators) and the driver-local path (write_rows_locally,
    counters = plain ints) execute IDENTICAL semantics:
    batchwriter.go:248-280 — try the batch; on failure split into
    SPLIT_FACTOR sub-batches and recurse; single failing rows are
    dropped (counted + sampled).

    With ``add_bad``, each row ends in (ERRS_COL, SRC_COL): a row with
    failing columns is not written but counted, and the first
    MAX_DROP_SAMPLES are sampled; ``add_bad(count, samples)`` fires
    once at the end.  Good rows are written without the two columns.

    A ``write`` with a ``prepare(row)`` method (a driver's value
    adaptation) has each good row prepared ONCE, when it joins a
    batch; every attempt, bisection retries included, writes the
    prepared rows, while byte cuts and dropped-row samples still read
    the original row."""
    budget = [cfg.retry_limit]
    prepare = getattr(write, "prepare", lambda row: row)

    def write_and_handle(rows: list, ready: list) -> None:
        if not rows:
            return
        try:
            write(ready)
            add_batches(1)
            add_written(len(rows))
            return
        except Exception as e:
            # one count per failing write call, bisection retries
            # included — the reference's errors-map semantics
            add_errors({_error_key(e): 1})
        if len(rows) == 1 or budget[0] <= 0:
            add_dropped(len(rows))
            add_samples([tuple(r) for r in rows[:MAX_DROP_SAMPLES]])
            return
        step = max(1, (len(rows) + SPLIT_FACTOR - 1) // SPLIT_FACTOR)
        for i in range(0, len(rows), step):
            budget[0] -= 1
            add_retries(1)
            write_and_handle(rows[i:i + step], ready[i:i + step])

    batch: list = []
    ready: list = []
    nbytes = 0
    n_bad, bad_samples = 0, []
    for row in rows_iter:
        if add_bad is not None:
            errs, src = row[-2], row[-1]
            if errs:
                n_bad += 1
                if len(bad_samples) < MAX_DROP_SAMPLES:
                    bad_samples.append({**src.asDict(),
                                        ERRS_COL: list(errs)})
                continue
            row = row[:-2]
        batch.append(row)
        ready.append(prepare(row))
        nbytes += _row_bytes(row)
        if len(batch) >= cfg.count_threshold or nbytes >= cfg.byte_threshold:
            write_and_handle(batch, ready)
            batch, ready, nbytes = [], [], 0
    write_and_handle(batch, ready)
    if add_bad is not None:
        add_bad(n_bad, bad_samples)


def quarantine_select(df: DataFrame, columns: list) -> tuple:
    """(``df`` narrowed to ``columns``, whether it carries the
    quarantine columns): a conversion's pre-split relation keeps
    ERRS_COL and SRC_COL last, for the batching loop's bad-row split;
    any other frame is written whole."""
    if ERRS_COL in df.columns:
        return df.select(*columns, ERRS_COL, SRC_COL), True
    return df.select(*columns), False


def write_with_batching(df: DataFrame,
                        write: Callable[[list], None],
                        config: Optional[BatchWriterConfig] = None,
                        quarantine: bool = False) -> WriteStats:
    """Run the batching+bisection write over every partition of ``df``.

    ``write`` executes on executors; it must be picklable and
    idempotent-enough for retries (the reference assumes insert
    semantics where duplicate writes surface AlreadyExists,
    batchwriter.go:98-140).  ``quarantine``: ``df`` ends in ERRS_COL,
    SRC_COL (see quarantine_select), and rows that failed conversion
    are counted and sampled instead of written.
    """
    from pyspark.accumulators import AccumulatorParam

    class _SampleAcc(AccumulatorParam):
        def zero(self, v):
            return []

        def addInPlace(self, a, b):
            if len(a) < MAX_DROP_SAMPLES:
                a.extend(b[:MAX_DROP_SAMPLES - len(a)])
            return a

    cfg = config or BatchWriterConfig()
    sc = df.sparkSession.sparkContext
    acc_batches = sc.accumulator(0)
    acc_written = sc.accumulator(0)
    acc_dropped = sc.accumulator(0)
    acc_retries = sc.accumulator(0)
    acc_samples = sc.accumulator([], _SampleAcc())
    acc_bad = sc.accumulator(0)
    acc_bad_samples = sc.accumulator([], _SampleAcc())

    class _ErrAcc(AccumulatorParam):
        def zero(self, v):
            return {}

        def addInPlace(self, a, b):
            for k, n in b.items():
                if k in a:
                    a[k] += n
                elif len(a) < MAX_ERROR_KINDS:
                    a[k] = n
            return a

    acc_errors = sc.accumulator({}, _ErrAcc())

    def add_bad(n: int, samples: list) -> None:
        acc_bad.add(n)
        acc_bad_samples.add(samples)

    def handle_partition(rows_iter) -> None:
        run_batching_loop(rows_iter, write, cfg,
                          acc_batches.add, acc_written.add,
                          acc_dropped.add, acc_retries.add,
                          acc_samples.add, acc_errors.add,
                          add_bad if quarantine else None)

    df.foreachPartition(handle_partition)
    return WriteStats(batches=acc_batches.value,
                      rows_written=acc_written.value,
                      rows_dropped=acc_dropped.value,
                      retries=acc_retries.value,
                      dropped_samples=acc_samples.value,
                      errors=acc_errors.value,
                      rows_bad=acc_bad.value,
                      bad_samples=acc_bad_samples.value)


def write_rows_locally(rows, write: Callable[[list], None],
                       config: Optional[BatchWriterConfig] = None,
                       quarantine: bool = False) -> WriteStats:
    """Driver-local batching+bisection over an in-memory row stream —
    the exact loop each foreachPartition task runs, for write targets
    only reachable from the driver process (e.g. an embedded-Derby
    JDBC connection through the Spark JVM's py4j gateway, which does
    not serialize to executors).  ``quarantine`` as in
    write_with_batching."""
    cfg = config or BatchWriterConfig()
    stats = WriteStats(batches=0, rows_written=0, rows_dropped=0,
                       retries=0, dropped_samples=[], errors={},
                       bad_samples=[])

    def bump(field):
        def add(n):
            setattr(stats, field, getattr(stats, field) + n)
        return add

    def add_samples(samples):
        room = MAX_DROP_SAMPLES - len(stats.dropped_samples)
        if room > 0:
            stats.dropped_samples.extend(samples[:room])

    def add_errors(d):
        for k, n in d.items():
            if k in stats.errors:
                stats.errors[k] += n
            elif len(stats.errors) < MAX_ERROR_KINDS:
                stats.errors[k] = n

    def add_bad(n, samples):
        stats.rows_bad += n
        stats.bad_samples.extend(samples)     # one call, already capped

    run_batching_loop(iter(rows), write, cfg,
                      bump("batches"), bump("rows_written"),
                      bump("rows_dropped"), bump("retries"), add_samples,
                      add_errors, add_bad if quarantine else None)
    return stats
