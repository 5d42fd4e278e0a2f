"""End-to-end migration driver: the CLI lifecycle of the reference
(SURVEY §3.1, cmd/cmd.go:39-92) as one function + argparse main.

    pg_dump mydb > dump.sql
    python -m harbourbridge_spark.cli dump.sql --dialect postgres \
        --out /data/migrated

Steps (mirroring cmd.CommandLine):
  1. schema pass over the dump -> SourceSchema -> target schema
  2. write schema file (pretty + legal DDL) + session file
  3. data pass: the driver stages COPY/INSERT rows (or, distributed,
     finds their byte ranges) and makes every ctx write; each table's
     typed conversion — one pre-split relation, cut into good and bad
     rows — is planned later, on the thread that writes it
  4. every table at once, on a pool min(tables, default parallelism)
     wide: build the table's conversion plan, then write it — parquet
     (interleave-aware co-partitioning) or the batched row writers —
     so one table's plan build (slow on a cold JVM) overlaps the
     others' writes; sinks sharing one database file (sqlite, Derby)
     hold a lock around the write call only
  5. write each table's bad-data sample from the same conversion
     pass — the row writers split bad rows off inside their partition
     loop, and a parquet table of one input split samples a disk copy
     of what its write converted — then record stats in dump order,
     remove the staging directory (also when a table failed) and
     write the conversion report
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import SparkSession

from .confscope import apply_recommended
from .context import MigrationContext
from .ddl import write_schema_file
from . import sink
from .report import generate_report
from .sink import write_bad_data, write_table
from .sources import mysqldump, pgdump


def migrate_dump(spark: SparkSession, dump_path, dialect: str,
                 out_dir: str,
                 ctx: Optional[MigrationContext] = None,
                 target: str = "parquet",
                 show_progress: bool = False,
                 progress_out=None,
                 ingest: str = "staged") -> MigrationContext:
    """Full dump migration into ``out_dir``: tables (parquet, or a
    sqlite database / embedded Derby via the batched K1/K2 writer) +
    schema file + session file + report + dropped-row samples.
    ``dump_path`` may be a single path or a list (sharded dumps stage
    through one shared writer).  ``show_progress`` renders the A8
    percent meter over the tables' input bytes.  ``ingest``
    selects the data pass: "staged" (driver splitter) or
    "distributed" (executor-side reads — the path for very large
    dumps: COPY byte-range scans for postgres, statement-shard
    tokenization for mysql)."""
    os.makedirs(out_dir, exist_ok=True)
    staging = os.path.join(out_dir, "_staging")
    try:
        if dialect == "postgres":
            ctx, results = pgdump.migrate_pg_dump(spark, dump_path, staging,
                                                  ctx, mode=ingest)
        elif dialect == "mysql":
            ctx, results = mysqldump.migrate_mysql_dump(spark, dump_path,
                                                        staging, ctx,
                                                        mode=ingest)
        else:
            raise ValueError(f"unknown dialect {dialect!r}")

        # schema + session files before data (cmd/cmd.go:51-52)
        write_schema_file(ctx, os.path.join(out_dir, "schema.txt"))
        with open(os.path.join(out_dir, "session.json"), "w") as f:
            f.write(ctx.to_json())
        _write_tables(spark, ctx, results, out_dir, target,
                      show_progress, progress_out)
    finally:
        # the staged copy of the data goes whether or not every table
        # made it
        shutil.rmtree(staging, ignore_errors=True)

    report = generate_report(
        ctx, driver_name=f"{dialect}-dump")
    with open(os.path.join(out_dir, "report.txt"), "w") as f:
        f.write(report)
    # refresh the session file with final stats
    with open(os.path.join(out_dir, "session.json"), "w") as f:
        f.write(ctx.to_json())
    return ctx


def _write_tables(spark: SparkSession, ctx: MigrationContext,
                  results: dict, out_dir: str, target: str,
                  show_progress: bool, progress_out) -> None:
    """Steps 4 and 5: plan, write and sample every table on a pool,
    then record their stats in dump order."""
    meter = None
    if show_progress:
        from .progress import MigrationProgress
        meter = MigrationProgress(
            {t: r.input_bytes or 0 for t, r in results.items()},
            message="Writing data", out=progress_out)

    db_path = os.path.join(out_dir, "migrated.db")
    # sqlite locks the file per write transaction and the Derby writer
    # is one driver-local connection, so their writes go one at a time;
    # their plan builds and samples still overlap
    sink_lock = threading.Lock()

    def write_one(src_table: str, result) -> tuple:
        """Build one table's conversion plan, write the table and its
        quarantine sample from that single conversion pass; returns
        (WriteStats or None, bad-row count, samples written).  Runs on
        a pool thread."""
        tgt = ctx.to_target[src_table]["name"]
        # the first access builds the plan, here, on this thread
        pre = result.pre
        wstats = None
        # a single-split table's sample scan would re-run its whole
        # conversion as one more one-task job; on disk, it reads the
        # rows the good write already converted (multi-split tables
        # keep the plain plan: limit() stops at the first partitions
        # holding enough bad rows)
        cached = target == "parquet" and result.splits == 1
        if cached:
            pre.persist(StorageLevel.DISK_ONLY)
        try:
            if meter is not None:
                from .progress import track_table_job
                tracker = track_table_job(spark, meter, src_table)
            else:
                tracker = contextlib.nullcontext()
            # a real `with` so a write failure's exc_info reaches
            # __exit__ and the failed table is NOT credited to the
            # meter; entered here because job groups are per thread
            with tracker:
                if target == "sqlite":
                    with sink_lock:
                        wstats = sink.write_table_to_sqlite(
                            ctx, pre, tgt, db_path)
                elif target == "derby":
                    from .sink.jdbc_writer import write_table_to_derby
                    with sink_lock:
                        wstats = write_table_to_derby(
                            spark, ctx, pre, tgt,
                            os.path.join(out_dir, "migrated_derby"))
                else:
                    write_table(ctx, result.good, tgt,
                                os.path.join(out_dir, f"{tgt}.parquet"))
            # the exact conversion-bad count comes from the write pass:
            # the parquet write fired obs_all (total + bad counts in
            # the same pass); the row writers split bad rows off in
            # their partition loop and sampled them there
            if wstats is None:
                bad_total = result.bad_count_from_good_pass()
                sample = result.bad
            else:
                bad_total, sample = wstats.rows_bad, wstats.bad_samples
            n_bad = 0
            if bad_total != 0:
                n_bad = write_bad_data(
                    sample, os.path.join(out_dir, f"{tgt}.dropped.txt"))
        finally:
            if cached:
                pre.unpersist()
        return wstats, bad_total, n_bad

    # every table plans, writes and samples concurrently, so one
    # table's plan build (slow on a cold JVM) overlaps the others'
    # writes
    width = min(len(results), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=max(width, 1)) as pool:
        futures = {t: pool.submit(write_one, t, r)
                   for t, r in results.items()}
    # stats, artifacts and the report follow dump order, whatever
    # order the tables finished in; a failed table is credited nothing
    # and its error re-raises once every table has finished
    failure = None
    for src_table, result in results.items():
        exc = futures[src_table].exception()
        if exc is not None:
            failure = failure or exc
            continue
        wstats, bad_total, n_bad = futures[src_table].result()
        tgt = ctx.to_target[src_table]["name"]
        if wstats is not None:
            # foreachPartition is an RDD action — observations never
            # fire; take the counts from the writer's accumulators
            result.record_stats(ctx, src_table,
                                good_n=wstats.rows_written,
                                bad_n=bad_total + wstats.rows_dropped)
            # rows the writer's constraint bisection rejected are
            # counted into bad stats (and flip the exit code), so they
            # must leave an artifact too — first-N samples, like the
            # conversion-bad file
            if wstats.rows_dropped > 0:
                with open(os.path.join(
                        out_dir, f"{tgt}.writer_dropped.txt"), "w") as f:
                    f.write(f"# {wstats.rows_dropped} row(s) rejected by "
                            f"the target database writer; first "
                            f"{len(wstats.dropped_samples or [])} shown\n")
                    for row in wstats.dropped_samples or []:
                        f.write(repr(row) + "\n")
        else:
            # observations populated by the write above (A1/A8);
            # bad_n comes from the good pass's obs_all — obs_bad may
            # never fire when the bad-sample scan was skipped
            result.record_stats(ctx, src_table, bad_n=bad_total)
        if n_bad == 0:
            dropped = os.path.join(out_dir, f"{tgt}.dropped.txt")
            if os.path.exists(dropped):
                os.remove(dropped)
    if failure is not None:
        raise failure

    if meter is not None:
        meter.done()


def main(argv: Optional[list[str]] = None) -> int:
    p = argparse.ArgumentParser(
        description="Migrate a pg_dump/mysqldump file to typed parquet "
                    "tables with a Spanner-style target schema.")
    p.add_argument("dump", nargs="+",
                   help="path(s) to the dump file(s); a table's rows "
                        "may span files (sharded dumps)")
    p.add_argument("--dialect", choices=["postgres", "mysql"],
                   default="postgres")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--target", choices=["parquet", "sqlite", "derby"],
                   default="parquet",
                   help="table sink: parquet files, or a sqlite / "
                        "embedded-Derby database through the batched "
                        "K1/K2 writer")
    p.add_argument("--progress", action="store_true",
                   help="render the percent progress meter (A8) over "
                        "the input-bytes denominator")
    p.add_argument("--ingest", choices=["staged", "distributed"],
                   default="staged",
                   help="data pass: 'staged' splits rows on the "
                        "driver; 'distributed' reads executor-side — "
                        "COPY byte-range scans (postgres) or "
                        "statement-shard tokenization (mysql) — for "
                        "large dumps")
    p.add_argument("--cpus", default="8")
    p.add_argument("--session", help="resume from a session.json "
                   "(schema edits preserved; data-only mode)")
    args = p.parse_args(argv)

    spark = (apply_recommended(SparkSession.builder
             .master(f"local[{args.cpus}]")
             .appName("harbourbridge-spark-migrate")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             )
             .getOrCreate())
    ctx = None
    if args.session:
        with open(args.session) as f:
            ctx = MigrationContext.from_json(f.read())
    dumps = args.dump[0] if len(args.dump) == 1 else args.dump
    final = migrate_dump(spark, dumps, args.dialect, args.out, ctx,
                         target=args.target,
                         show_progress=args.progress,
                         ingest=args.ingest)
    print(open(os.path.join(args.out, "report.txt")).read()[:2000])
    spark.stop()
    return 0 if final.bad_rows() == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
