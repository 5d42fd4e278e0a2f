"""Benchmark of the migration engine's product paths.

    python3 migbench/run.py --workload pg_to_parquet --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a checkout of the repository.  One process, one
client, one job at a time on ``local[4]``: input generation (seeded,
outside every timed region) -> session set-up -> timed jobs for
``--seconds`` (at least one) -> output checks.  The last line of
standard output is the result JSON; the line before it carries the
run's detail (every job time, host steal, check errors).  ``--trace 1``
runs traced jobs instead and prints the per-layer metrics.  See
README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CPUS = min(4, os.cpu_count() or 1)
# one local-mode JVM holds driver and executors.  The inputs are ~10 MB
# and the host has ~15 GB, shared with other tenants, and no swap; a
# 1 GB heap also keeps G1's adaptive heap growth, which otherwise moved
# the JVM's resident size by ~30 % between runs, from dominating
# peak_rss_mb
DRIVER_MEMORY = "1g"
INPUT_CACHE_KEEP = 6      # generated inputs kept for reuse across runs

END_TO_END = {"setup_s": "s", "job_s": "s", "peak_rss_mb": "MB",
              "out_bytes_per_in_byte": "ratio"}

STATUS_SPANS = ("sources", "sink", "sink.bad_scan", "dedup.signature",
                "dedup.pairs", "dedup.clusters", "dedup.manifest")
STATUS_KEYS = {"jobs": "count", "stages": "count", "tasks": "count",
               "exec_run_s": "s", "exec_cpu_s": "s", "driver_s": "s",
               "shuffle_read_bytes": "bytes",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
               "gc_s": "s"}
PER_LAYER = {
    "setup.session_s": "s", "setup.warmup_s": "s", "host.steal_s": "s",
    "trace.overhead_s": "s",
    "sources.wall_s": "s", "sources.schema_pass_s": "s",
    "sources.stage_s": "s", "sources.spark_jobs": "count",
    "sources.rows": "count",
    "convert.plan_s": "s", "convert.bad_rows": "count",
    "sink.wall_s": "s", "sink.exec_s": "s", "sink.bad_scan_s": "s",
    "sink.rows_written": "count", "sink.rows_dropped": "count",
    "sink.out_bytes": "bytes",
    "report.wall_s": "s",
    "dedup.signature_s": "s", "dedup.pairs_s": "s",
    "dedup.clusters_s": "s", "dedup.clusters_spark_jobs": "count",
    "dedup.manifest_s": "s", "dedup.verified_pairs": "count",
    "dedup.dropped_docs": "count",
}
for _span in STATUS_SPANS:
    for _k, _u in STATUS_KEYS.items():
        # sources.spark_jobs / dedup.clusters_spark_jobs name these
        if _k == "jobs" and _span in ("sources", "dedup.clusters"):
            continue
        PER_LAYER[f"{_span}.{_k}"] = _u


# -- host measurements -------------------------------------------------------

def host_cpu() -> tuple:
    """Cumulative (busy, steal) CPU-seconds of this machine: busy is
    user + nice + system + irq + softirq; steal is time the hypervisor
    gave to other guests while one of this machine's CPUs wanted to
    run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def steal_free(wall: float, c0: tuple, c1: tuple) -> float:
    """``wall`` with the host's CPU steal taken out: scaled by the
    share of the CPU time the machine asked for that it was granted,
    busy / (busy + steal) over the interval.  Exact for a job whose
    parallelism and steal rate are steady; equal to ``wall`` when
    nothing was stolen."""
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


class TreeRss(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), summed over the tree at each sample."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        children: dict = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop_evt.wait(self.PERIOD_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / (1 << 20)


# -- inputs ------------------------------------------------------------------

def ensure_input(workload: str, seed: int) -> dict:
    """Generate (or reuse) the seeded input in a child process, so the
    generator's memory never counts toward the measured process tree."""
    cache = os.path.join(WORK, "inputs")
    key = f"{workload}-s{seed}"
    d = os.path.join(cache, key)
    truth = os.path.join(d, "truth.json")
    if not os.path.exists(truth):
        shutil.rmtree(d, ignore_errors=True)
        cmd = [sys.executable, os.path.join(HERE, "gen.py"),
               "--workload", workload, "--seed", str(seed), "--out", d]
        subprocess.run(cmd, check=True)
        entries = sorted((os.path.getmtime(os.path.join(cache, e)), e)
                         for e in os.listdir(cache))
        for _, old in entries[:-INPUT_CACHE_KEEP]:
            if old != key:
                shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    with open(truth) as f:
        return json.load(f)


def tree_bytes(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dp, name))
    return total


# -- session -----------------------------------------------------------------

def start_session(run_dir: str):
    from pyspark.sql import SparkSession

    from harbourbridge_spark.confscope import apply_recommended
    tmp = os.path.join(run_dir, "tmp")
    builder = (SparkSession.builder.master(f"local[{CPUS}]")
               .appName("migbench")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.sql.shuffle.partitions", str(CPUS))
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.driver.memory", DRIVER_MEMORY)
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.sql.warehouse.dir",
                       os.path.join(run_dir, "warehouse"))
               .config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={tmp} "
                       f"-Dderby.system.home={tmp}"))
    spark = apply_recommended(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """One JVM job, one Python-worker job and one Arrow job across
    every core: the session is then ready with warmed workers."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 200_000, 1, CPUS).selectExpr("id % 97 AS k") \
        .groupBy("k").count().collect()
    spark.sparkContext.parallelize(range(CPUS * 8), CPUS) \
        .map(lambda x: x * 2).collect()
    spark.range(0, 40_000, 1, CPUS).select(plus_one("id")).collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- workloads ---------------------------------------------------------------

def run_migration(spark, inp: dict, out: str, tr, *, dialect: str,
                  target: str, ingest: str) -> dict:
    from harbourbridge_spark import cli
    ctx = cli.migrate_dump(spark, inp["input"], dialect, out,
                           target=target, ingest=ingest)
    return {"ctx": ctx, "target": target}


def run_neardup(spark, inp: dict, out: str, tr) -> dict:
    """The chain composed as dedup_pipeline_materialized_fn composes
    it, with the removal manifest written as parquet."""
    from harbourbridge_spark.pipeline import dedup as D
    corpus = os.path.dirname(inp["input"])
    with tr.span("dedup.pairs"):
        pairs = (D.lsh_verified_pairs_fn(spark, corpus)
                 .select("doc_a", "doc_b").localCheckpoint())
    with tr.span("dedup.clusters"):
        clusters = D.dedup_clusters_fn(spark, corpus, pairs=pairs)
    with tr.span("dedup.manifest"):
        D.dedup_removal_manifest_fn(spark, corpus, clusters=clusters) \
            .write.parquet(os.path.join(out, "manifest.parquet"))
    return {"pairs": pairs}


WORKLOADS = {
    "pg_to_parquet": functools.partial(
        run_migration, dialect="postgres", target="parquet",
        ingest="staged"),
    "mysql_to_sqlite": functools.partial(
        run_migration, dialect="mysql", target="sqlite",
        ingest="distributed"),
    "neardup_corpus": run_neardup,
}


class NoTrace:
    @staticmethod
    def span(name):
        import contextlib
        return contextlib.nullcontext()


def install_patches(tr) -> None:
    """Wrap each layer's public boundary (see README.md's table)."""
    from harbourbridge_spark import cli, sink
    from harbourbridge_spark.pipeline import dedup
    from harbourbridge_spark.sources import mysqldump, pgdump
    tr.patch(pgdump, "migrate_pg_dump", "sources")
    tr.patch(mysqldump, "migrate_mysql_dump", "sources")
    tr.patch(pgdump, "process_pg_dump_schema", "sources.schema_pass")
    tr.patch(mysqldump, "process_mysql_dump_schema", "sources.schema_pass")
    tr.patch(pgdump, "stage_pg_dump_data", "sources.stage")
    tr.patch(pgdump, "convert_table", "convert")
    tr.patch(mysqldump, "convert_table", "convert")
    tr.patch(cli, "write_table", "sink")
    tr.patch(sink, "write_table_to_sqlite", "sink", keep=True)
    tr.patch(cli, "write_bad_data", "sink.bad_scan")
    tr.patch(cli, "generate_report", "report")
    tr.patch(cli, "write_schema_file", "report")
    tr.patch(dedup, "vectorized_signature_df", "dedup.signature")


# -- checks ------------------------------------------------------------------

def check_iteration(truth: dict, out: str, res: dict) -> tuple:
    """(errors, counts) for one job's output."""
    import check
    if "pairs" in res:
        import pyarrow.parquet as pq
        pairs = [(r.doc_a, r.doc_b) for r in res["pairs"].collect()]
        keep = pq.read_table(os.path.join(out, "manifest.parquet"),
                             columns=["keep"]).column(0).to_pylist()
        info = {"verified_pairs": len(pairs),
                "dropped_docs": sum(1 for k in keep if not k)}
        return check.check_manifest(out, truth, pairs), info
    ctx = res["ctx"]
    info = {"report_bad_rows": {t: s.bad_rows
                                for t, s in ctx.table_stats.items()},
            "truth_bad_rows": {t: v["bad"]
                               for t, v in truth["tables"].items()}}
    return check.check_migration(out, truth, ctx, res["target"]), info


# -- main --------------------------------------------------------------------

def layer_metrics(tr, res: dict, info: dict, out_bytes: int) -> dict:
    m = {k: 0 for k in PER_LAYER}
    m["sources.wall_s"] = tr.wall("sources")
    m["sources.schema_pass_s"] = tr.wall("sources.schema_pass")
    m["sources.stage_s"] = tr.wall("sources.stage")
    m["convert.plan_s"] = tr.wall("convert")
    m["sink.wall_s"] = tr.wall("sink")
    m["sink.exec_s"] = tr.status("sink")["exec_s"]
    m["sink.bad_scan_s"] = tr.wall("sink.bad_scan")
    m["report.wall_s"] = tr.wall("report")
    m["dedup.signature_s"] = tr.wall("dedup.signature")
    m["dedup.pairs_s"] = tr.self_wall("dedup.pairs")
    m["dedup.clusters_s"] = tr.wall("dedup.clusters")
    m["dedup.manifest_s"] = tr.wall("dedup.manifest")
    for span in STATUS_SPANS:
        st = tr.status(span)
        for k in STATUS_KEYS:
            if f"{span}.{k}" in PER_LAYER:
                m[f"{span}.{k}"] = st[k]
    m["sources.spark_jobs"] = tr.status("sources")["jobs"]
    m["dedup.clusters_spark_jobs"] = tr.status("dedup.clusters")["jobs"]
    if "pairs" in res:
        m["dedup.verified_pairs"] = info["verified_pairs"]
        m["dedup.dropped_docs"] = info["dropped_docs"]
        m["sink.out_bytes"] = out_bytes
        return m
    ctx = res["ctx"]
    m["sources.rows"] = sum(s.rows for s in ctx.table_stats.values())
    stats = [w for w in tr.returned.get("sink", []) if w is not None]
    if stats:
        m["sink.rows_written"] = sum(w.rows_written for w in stats)
        m["sink.rows_dropped"] = sum(w.rows_dropped for w in stats)
    else:
        m["sink.rows_written"] = sum(s.good_rows
                                     for s in ctx.table_stats.values())
    # quarantined rows as the program counted them (its bad-row stats
    # also hold the sink's rejected duplicates)
    m["convert.bad_rows"] = sum(s.bad_rows for s in ctx.table_stats.values()
                                ) - m["sink.rows_dropped"]
    m["sink.out_bytes"] = out_bytes
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401

        from harbourbridge_spark import cli  # noqa: F401
    except ImportError as e:
        print(f"migbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    setup_import_s = time.perf_counter() - T_START

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # executors (Python workers) import the program from the checkout;
    # every temp and spill file stays inside it; timestamps render in
    # UTC on the driver and in the workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()

    try:
        truth = ensure_input(a.workload, a.seed)
        rss = TreeRss()
        rss.start()
        c0, t0 = host_cpu(), time.perf_counter()
        spark = start_session(run_dir)
        c1, t1 = host_cpu(), time.perf_counter()
        warm_workers(spark)
        c2, t2 = host_cpu(), time.perf_counter()
        setup = {"setup.session_s": setup_import_s
                 + steal_free(t1 - t0, c0, c1),
                 "setup.warmup_s": steal_free(t2 - t1, c1, c2)}
        try:
            result = measure(spark, a, truth, run_dir, rss)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = result["metrics"]
    if a.trace:
        metrics.update(setup)
    else:
        metrics["setup_s"] = setup_import_s + steal_free(t2 - t0, c0, c2)
        result["detail"]["setup_wall_s"] = setup_import_s + t2 - t0
    units = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({"detail": result["detail"]}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


def measure(spark, a, truth: dict, run_dir: str, rss) -> dict:
    """Untraced: jobs back to back until ``--seconds`` have passed (at
    least one; the first runs cold, as a migration CLI call does).
    Traced: one traced cold job gives the per-layer metrics, then
    untraced, traced and untraced warm jobs give the tracing
    overhead."""
    from spans import Tracer, spark_jobs
    fn = WORKLOADS[a.workload]
    jobs = []

    def job(tr) -> float:
        """One job; returns its steal-free wall time."""
        out = os.path.join(run_dir, f"out{len(jobs)}")
        if tr is not None:
            install_patches(tr)
        c0, w0, t = host_cpu(), time.time(), time.perf_counter()
        try:
            res = fn(spark, truth, out, tr or NoTrace())
        finally:
            if tr is not None:
                tr.unpatch()
        wall = time.perf_counter() - t
        c1 = host_cpu()
        jobs.append({"out": out, "res": res, "tr": tr,
                     "span": (w0, time.time()), "wall": wall,
                     "secs": steal_free(wall, c0, c1),
                     "busy": c1[0] - c0[0], "steal": c1[1] - c0[1]})
        return jobs[-1]["secs"]

    t_loop = time.perf_counter()
    if a.trace:
        job(Tracer())
        # warm jobs keep getting faster, so the traced one sits between
        # two untraced ones
        before, traced, after = job(None), job(Tracer()), job(None)
        overhead = traced - (before + after) / 2
    else:
        while True:
            job(None)
            est = statistics.median(j["wall"] for j in jobs)
            if a.seconds - (time.perf_counter() - t_loop) < est:
                break
    steal = sum(j["steal"] for j in jobs)
    peak_mb = rss.stop()

    detail = {"workload": a.workload, "seed": a.seed, "cpus": CPUS,
              "input_bytes": truth["input_bytes"], "host.steal_s": steal}
    for k in ("wall", "secs", "busy", "steal"):
        detail[f"job_{k}_each"] = [j[k] for j in jobs]
    for k in ("docs", "chain_len", "seeded_dups"):
        if k in truth:
            detail[k] = truth[k]
    failed, errors, ratios, infos = 0, [], [], []
    for j in jobs:
        out = j["out"]
        errs, info = check_iteration(truth, out, j["res"])
        infos.append(info)
        if errs:
            failed += 1
            errors.extend(errs[:5])
        ratios.append(tree_bytes(out) / truth["input_bytes"])
    detail.update(infos[0])
    detail["errors"] = errors
    detail["out_bytes_per_in_byte_each"] = ratios

    if a.trace:
        first = jobs[0]
        tr = first["tr"]
        tr.attribute(spark_jobs(spark, *first["span"]))
        metrics = layer_metrics(tr, first["res"], infos[0],
                                tree_bytes(first["out"]))
        metrics["host.steal_s"] = steal
        metrics["trace.overhead_s"] = overhead
    else:
        metrics = {"job_s": statistics.median(j["secs"] for j in jobs),
                   "peak_rss_mb": peak_mb,
                   "out_bytes_per_in_byte": statistics.median(ratios)}
    return {"metrics": metrics, "detail": detail,
            "attempted": len(jobs), "failed": failed}


if __name__ == "__main__":
    sys.exit(main())
