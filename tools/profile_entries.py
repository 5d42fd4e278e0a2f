#!/usr/bin/env python
"""Entry profiler: where a registry entry spends its time.

For each entry it prints the best-of-3 split between building the
DataFrame (``fn()``: plan building plus any eager work the entry does,
such as checkpoints) and executing it (a noop write), then the
status-store ledger (``harbourbridge_spark.obs``) of the best run, then
one ledger row per checkpoint segment.  Segments come from one more run
during which ``localCheckpoint`` and ``checkpoint`` are wrapped: the
library's checkpoints are eager, so each call's jobs run inside it.
With ``--plans TAG`` the entry's final plan and every segment's
formatted plan (as it ran) are written to ``plans/TAG/``.

Usage:
  python tools/profile_entries.py [--plans TAG] ENTRY [ENTRY ...]
  python tools/profile_entries.py [--plans TAG] --top N
      (the N slowest entries of the newest BENCH detail file)

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 fixtures) and
SPARK_GRAFT_CPUS (default 32), as in bench.py.  The Python workers
unpickle library kernels, so the checkout must be on their
PYTHONPATH; the script puts it there before its session starts.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from harbourbridge_spark import obs  # noqa: E402
from harbourbridge_spark import queries as Q  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CHECKPOINTS = ("localCheckpoint", "checkpoint")
COLUMNS = {"jobs": "jobs", "stages": "stg", "tasks": "tasks",
           "wall_s": "wall", "exec_s": "exec", "driver_s": "driver",
           "exec_run_s": "run", "exec_cpu_s": "cpu", "gc_s": "gc",
           "shuffle_read_bytes": "shuf_r", "shuffle_write_bytes": "shuf_w",
           "spill_bytes": "spill"}


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _call_site() -> str:
    """``module.function:line`` of the innermost library frame that
    called a checkpoint, else of the direct caller."""
    f = first = sys._getframe(2)
    while f is not None and "harbourbridge_spark" not in f.f_code.co_filename:
        f = f.f_back
    f = f or first
    mod = os.path.splitext(os.path.basename(f.f_code.co_filename))[0]
    return f"{mod}.{f.f_code.co_name}:{f.f_lineno}"


@contextlib.contextmanager
def checkpoint_segments(plans: bool = False):
    """Yield a list that gains one row per ``localCheckpoint`` /
    ``checkpoint`` call made inside the block, from any thread: the
    call site, the segment's ledger and (with ``plans``) its formatted
    plan.  The DataFrame class is restored on exit, also when the
    block raises.  Segments that run concurrently share each other's
    jobs, as every submission-time attribution does."""
    segments: list[dict] = []
    originals = {name: vars(DataFrame)[name] for name in CHECKPOINTS}

    def wrap(orig):
        def checkpointed(self, *args, **kwargs):
            site = _call_site()
            with obs.ledger(self.sparkSession) as led:
                out = orig(self, *args, **kwargs)
            segments.append({"site": site, **led,
                             "plan": plan_text(self) if plans else None})
            return out
        return checkpointed

    for name, orig in originals.items():
        setattr(DataFrame, name, wrap(orig))
    try:
        yield segments
    finally:
        for name, orig in originals.items():
            setattr(DataFrame, name, orig)


def row(label: str, cells) -> str:
    return f"  {label:44s}" + "".join(
        f" {c:>7.3f}" if isinstance(c, float) else f" {c:>7}" for c in cells)


def profile(spark, name: str, plans_dir: str | None) -> None:
    fn = Q.REGISTRY[name].fn
    best = build = execute = float("inf")
    for _ in range(3):
        t0 = time.time()
        df = fn(spark, SF)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        build, execute = min(build, t1 - t0), min(execute, t2 - t1)
        if t2 - t0 < best:
            best, window = t2 - t0, (t0, t2)
    led = obs.read_ledger(spark, *window)
    with checkpoint_segments(plans=plans_dir is not None) as segs:
        df = fn(spark, SF)
        df.write.format("noop").mode("overwrite").save()
    print(f"{name}: build {build:.3f} s, exec {execute:.3f} s "
          f"(best of 3 each)")
    print(row("", COLUMNS.values()))
    print(row("entry (best run)", [led[k] for k in COLUMNS]))
    for i, seg in enumerate(segs):
        print(row(f"seg{i:02d} {seg['site']}", [seg[k] for k in COLUMNS]))
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        files = {f"{name}.txt": plan_text(df)}
        for i, seg in enumerate(segs):
            site = re.sub(r"[^\w.]+", "_", seg["site"])
            files[f"{name}.seg{i:02d}.{site}.txt"] = seg["plan"]
        for fname, text in files.items():
            with open(os.path.join(plans_dir, fname), "w") as f:
                f.write(text)
        print(f"  wrote {len(files)} plans to "
              f"{os.path.relpath(plans_dir, HERE)}")


def _slowest(n: int) -> list[str]:
    details = sorted(glob.glob(os.path.join(HERE, "BENCH_r*_detail.json")),
                     key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    with open(details[-1]) as f:
        qs = json.load(f)["queries"]
    return sorted(qs, key=lambda k: -qs[k])[:n]


def main(args: list[str]) -> int:
    plans_dir = None
    if args[:1] == ["--plans"]:
        plans_dir, args = os.path.join(HERE, "plans", args[1]), args[2:]
    names = _slowest(int(args[1])) if args[:1] == ["--top"] else args
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p)

    from pyspark.sql import SparkSession

    from harbourbridge_spark.confscope import apply_recommended

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (apply_recommended(SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("entry-profile")
             .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: JVM, codegen and parquet footers, outside every timing
    Q.REGISTRY["q1_pricing_summary"].fn(spark, SF).write.format(
        "noop").mode("overwrite").save()
    for name in names:
        if name in Q.REGISTRY:
            profile(spark, name, plans_dir)
        else:
            print(f"{name}: not in registry")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
