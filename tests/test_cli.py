"""End-to-end CLI lifecycle tests (W1, cmd/cmd.go:39-92): sharded dump
in, tables + schema + session + report out, for both sink targets."""

import os
import sqlite3

import pytest

from harbourbridge_spark.cli import migrate_dump

P1 = """\
CREATE TABLE public.acct (id integer NOT NULL, bal numeric(10,2), note text);
ALTER TABLE ONLY public.acct ADD CONSTRAINT a_pk PRIMARY KEY (id);
COPY public.acct (id, bal, note) FROM stdin;
1\t10.50\tfirst
2\t20.00\tsecond
\\.
"""
P2 = """\
COPY public.acct (id, bal, note) FROM stdin;
3\t30.25\tthird
4\t\\N\tfourth
\\.
"""


def _dumps(tmp_path):
    f1, f2 = tmp_path / "p1.sql", tmp_path / "p2.sql"
    f1.write_text(P1)
    f2.write_text(P2)
    return [str(f1), str(f2)]


def test_cli_sharded_dump_to_parquet(spark, tmp_path):
    out = str(tmp_path / "out")
    ctx = migrate_dump(spark, _dumps(tmp_path), "postgres", out)
    rows = spark.read.parquet(os.path.join(out, "acct.parquet"))
    assert rows.count() == 4
    assert ctx.table_stats["acct"].good_rows == 4
    report = open(os.path.join(out, "report.txt")).read()
    assert "all 4 rows written" in report
    assert os.path.exists(os.path.join(out, "schema.txt"))
    assert os.path.exists(os.path.join(out, "session.json"))
    assert not os.path.exists(os.path.join(out, "acct.dropped.txt"))


def test_cli_sharded_dump_to_sqlite(spark, tmp_path):
    """The sqlite target must not hang on observe() (foreachPartition
    is an RDD action that never fires CollectMetrics) and must report
    the writer-accumulator counts."""
    out = str(tmp_path / "out")
    ctx = migrate_dump(spark, _dumps(tmp_path), "postgres", out,
                       target="sqlite")
    con = sqlite3.connect(os.path.join(out, "migrated.db"))
    rows = con.execute("SELECT id, bal, note FROM acct ORDER BY id").fetchall()
    con.close()
    assert [r[0] for r in rows] == [1, 2, 3, 4]
    assert rows[3][1] is None  # \N across the second shard file
    assert ctx.table_stats["acct"].good_rows == 4
    report = open(os.path.join(out, "report.txt")).read()
    assert "all 4 rows written" in report


def test_cli_sqlite_writer_dropped_rows_leave_artifact(spark, tmp_path):
    """Rows the batch writer's constraint bisection rejects count into
    bad stats AND persist first-N samples — a dropped row must never
    vanish without an artifact."""
    dup = tmp_path / "dup.sql"
    # duplicate primary key -> sqlite IntegrityError -> bisection drops 1
    dup.write_text(
        "CREATE TABLE public.acct (id integer NOT NULL, note text);\n"
        "ALTER TABLE ONLY public.acct ADD CONSTRAINT a_pk "
        "PRIMARY KEY (id);\n"
        "COPY public.acct (id, note) FROM stdin;\n"
        "1\tfirst\n"
        "1\tdup-key\n"
        "2\tsecond\n"
        "\\.\n")
    out = str(tmp_path / "out")
    ctx = migrate_dump(spark, str(dup), "postgres", out, target="sqlite")
    con = sqlite3.connect(os.path.join(out, "migrated.db"))
    n = con.execute("SELECT COUNT(*) FROM acct").fetchone()[0]
    con.close()
    assert n == 2
    assert ctx.table_stats["acct"].bad_rows == 1
    art = os.path.join(out, "acct.writer_dropped.txt")
    assert os.path.exists(art)
    body = open(art).read()
    assert "1 row(s) rejected" in body
    # one sample row present
    assert body.strip().count("\n") == 1


def test_cli_sqlite_counts_every_bad_row_past_the_sample_cap(
        spark, tmp_path):
    """The row-writer sinks fire no observation, so the conversion-bad
    count must not be the number of samples written (capped at 100):
    150 malformed rows are 150 bad rows, and 100 samples persist."""
    rows = [f"{i}\t{i}.25" for i in range(1, 51)]
    rows += [f"{i}\tnot-a-number" for i in range(51, 201)]
    dump = tmp_path / "bad.sql"
    dump.write_text(
        "CREATE TABLE public.acct (id integer NOT NULL, bal numeric(10,2));\n"
        "ALTER TABLE ONLY public.acct ADD CONSTRAINT a_pk "
        "PRIMARY KEY (id);\n"
        "COPY public.acct (id, bal) FROM stdin;\n"
        + "\n".join(rows) + "\n\\.\n")
    out = str(tmp_path / "out")
    ctx = migrate_dump(spark, str(dump), "postgres", out, target="sqlite")
    con = sqlite3.connect(os.path.join(out, "migrated.db"))
    n = con.execute("SELECT COUNT(*) FROM acct").fetchone()[0]
    con.close()
    assert n == 50
    assert ctx.bad_rows() == 150
    assert ctx.table_stats["acct"].good_rows == 50
    samples = open(os.path.join(out, "acct.dropped.txt")).read()
    assert samples.count("\ncols=") == 100


def test_cli_dump_to_derby_with_progress(spark, tmp_path):
    """--target derby + --progress: the full CLI lifecycle writes a
    real Derby database through the driver-local executeBatch writer
    while the A8 meter renders a monotone 0->100 sequence."""
    import io
    import re

    out = str(tmp_path / "out")
    buf = io.StringIO()
    ctx = migrate_dump(spark, _dumps(tmp_path), "postgres", out,
                       target="derby", show_progress=True,
                       progress_out=buf)
    url = f"jdbc:derby:{os.path.join(out, 'migrated_derby')}"
    back = spark.read.jdbc(
        url, '"acct"',
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"})
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3, 4]
    assert ctx.table_stats["acct"].good_rows == 4
    pcts = [int(m) for m in re.findall(r"(\d+)%", buf.getvalue())]
    assert pcts[0] == 0 and pcts[-1] == 100 and pcts == sorted(pcts)


def _quarantine_dump(tmp_path):
    """Two tables: `wide` with 150 bad rows (bad numeric), `narrow`
    with 30 (bad integer), both next to good rows."""
    wide = [f"{i}\t{i}.25" for i in range(1, 51)]
    wide += [f"{i}\tnot-a-number" for i in range(51, 201)]
    narrow = [f"{i}\t{i * 2}" for i in range(1, 21)]
    narrow += [f"{i}\tx{i}" for i in range(21, 51)]
    dump = tmp_path / "q.sql"
    dump.write_text(
        "CREATE TABLE public.wide (id integer NOT NULL, "
        "bal numeric(10,2));\n"
        "CREATE TABLE public.narrow (id integer NOT NULL, n integer);\n"
        "COPY public.wide (id, bal) FROM stdin;\n"
        + "\n".join(wide) + "\n\\.\n"
        "COPY public.narrow (id, n) FROM stdin;\n"
        + "\n".join(narrow) + "\n\\.\n")
    return str(dump)


def _sample_lines(path):
    import ast
    with open(path) as f:
        return [(ln[5:ln.index(" | ")].split(","),
                 ast.literal_eval(ln[ln.index(" | ") + 3:].strip()))
                for ln in f if ln.startswith("cols=")]


@pytest.mark.parametrize("target", ["parquet", "sqlite"])
def test_cli_quarantine_samples_and_counts_from_the_write_pass(
        spark, tmp_path, target):
    """Both sinks take the bad rows from the conversion's single pass:
    the samples hold min(bad, 100) rows, each naming a column whose
    source value really fails its cast, and the bad-row stats are
    exact past the sample cap."""
    out = str(tmp_path / "out")
    ctx = migrate_dump(spark, _quarantine_dump(tmp_path), "postgres", out,
                       target=target)
    for table, col, n_bad, n_good in (("wide", "bal", 150, 50),
                                      ("narrow", "n", 30, 20)):
        st = ctx.table_stats[table]
        assert (st.rows, st.good_rows, st.bad_rows) == \
            (n_bad + n_good, n_good, n_bad)
        lines = _sample_lines(os.path.join(out, f"{table}.dropped.txt"))
        assert len(lines) == min(n_bad, 100)
        for cols, src in lines:
            assert cols == [col]
            value = src[col]
            assert not value.lstrip("-").replace(".", "", 1).isdigit()
    assert ctx.bad_rows() == 180
    assert not os.path.exists(os.path.join(out, "wide.writer_dropped.txt"))


def _three_table_dump(tmp_path):
    """Three tables in non-alphabetical dump order, one with bad rows."""
    zeta = "\n".join(f"{i}\tz{i}" for i in range(40))
    alpha = "\n".join(f"{i}\t{i if i % 10 else 'bad'}" for i in range(60))
    mid = "\n".join(f"{i}\t2024-01-{1 + i % 28:02d}" for i in range(25))
    dump = tmp_path / "three.sql"
    dump.write_text(
        "CREATE TABLE public.zeta (id integer NOT NULL, v text);\n"
        "ALTER TABLE ONLY public.zeta ADD CONSTRAINT zpk PRIMARY KEY (id);\n"
        "CREATE TABLE public.alpha (id integer NOT NULL, n bigint);\n"
        "ALTER TABLE ONLY public.alpha ADD CONSTRAINT apk PRIMARY KEY (id);\n"
        "CREATE TABLE public.mid (id integer NOT NULL, d date);\n"
        "ALTER TABLE ONLY public.mid ADD CONSTRAINT mpk PRIMARY KEY (id);\n"
        f"COPY public.zeta (id, v) FROM stdin;\n{zeta}\n\\.\n"
        f"COPY public.alpha (id, n) FROM stdin;\n{alpha}\n\\.\n"
        f"COPY public.mid (id, d) FROM stdin;\n{mid}\n\\.\n")
    return str(dump)


@pytest.mark.parametrize("target", ["parquet", "sqlite"])
def test_cli_pooled_tables_report_like_a_sequential_run(
        spark, tmp_path, monkeypatch, target):
    """Tables write concurrently, yet stats, report and session file
    are the pinned values, byte-identical to a one-at-a-time run, and
    the stats are recorded in dump order."""
    import json

    from harbourbridge_spark import cli

    dump = _three_table_dump(tmp_path)
    pooled = str(tmp_path / "pooled")
    ctx = migrate_dump(spark, dump, "postgres", pooled, target=target)
    assert list(ctx.table_stats) == ["zeta", "alpha", "mid"]
    assert {t: (s.rows, s.good_rows, s.bad_rows)
            for t, s in ctx.table_stats.items()} == \
        {"zeta": (40, 40, 0), "alpha": (60, 54, 6), "mid": (25, 25, 0)}
    session = json.load(open(os.path.join(pooled, "session.json")))
    assert session["table_stats"]["alpha"]["bad_rows"] == 6
    report = open(os.path.join(pooled, "report.txt")).read()
    assert "Data conversion: OK (95.200% of 125 rows written to " \
        "target)." in report
    # the report lists tables alphabetically (report.go:99-110)
    heads = [ln for ln in report.splitlines() if ln.startswith("Table ")]
    assert heads == ["Table alpha", "Table mid", "Table zeta"]
    assert "OK (90% of 60 rows written" in report
    assert len(_sample_lines(os.path.join(pooled, "alpha.dropped.txt"))) == 6
    for t in ("zeta", "mid"):
        assert not os.path.exists(os.path.join(pooled, f"{t}.dropped.txt"))

    real_pool = cli.ThreadPoolExecutor
    monkeypatch.setattr(cli, "ThreadPoolExecutor",
                        lambda max_workers: real_pool(max_workers=1))
    serial = str(tmp_path / "serial")
    migrate_dump(spark, dump, "postgres", serial, target=target)
    for name in ("report.txt", "session.json", "alpha.dropped.txt"):
        assert open(os.path.join(pooled, name)).read() == \
            open(os.path.join(serial, name)).read(), name


def test_cli_failed_table_write_raises_and_is_not_credited(
        spark, tmp_path, monkeypatch):
    """One table's write fails: migrate_dump re-raises that error once
    the pool has drained, and credits no stats to that table."""
    from harbourbridge_spark import cli
    from harbourbridge_spark.context import MigrationContext

    boom = RuntimeError("disk full")
    real = cli.write_table

    def flaky(ctx, df, tgt, path, **kw):
        if tgt == "alpha":
            raise boom
        return real(ctx, df, tgt, path, **kw)

    monkeypatch.setattr(cli, "write_table", flaky)
    ctx = MigrationContext()
    with pytest.raises(RuntimeError) as info:
        migrate_dump(spark, _three_table_dump(tmp_path), "postgres",
                     str(tmp_path / "out"), ctx)
    assert info.value is boom
    alpha = ctx.table_stats.get("alpha")
    assert alpha is None or (alpha.good_rows, alpha.bad_rows) == (0, 0)
    assert ctx.table_stats["zeta"].good_rows == 40
    # the staged copy of the data and every table's disk cache go too
    assert not os.path.exists(tmp_path / "out" / "_staging")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_plans_each_table_on_its_pool_thread(spark, tmp_path,
                                                 monkeypatch):
    """migrate_dump builds every table's conversion plan on the pool
    thread that writes it; results taken straight from migrate_pg_dump
    build on whichever thread first touches them."""
    import threading

    from harbourbridge_spark.sources import pgdump

    threads = {}
    real = pgdump.convert_table

    def spy(ctx, df, src_table, *args, **kw):
        threads[src_table] = threading.get_ident()
        return real(ctx, df, src_table, *args, **kw)

    monkeypatch.setattr(pgdump, "convert_table", spy)
    dump = _three_table_dump(tmp_path)
    migrate_dump(spark, dump, "postgres", str(tmp_path / "out"))
    assert set(threads) == {"zeta", "alpha", "mid"}
    assert threading.get_ident() not in threads.values()

    threads.clear()
    _, results = pgdump.migrate_pg_dump(spark, dump,
                                        str(tmp_path / "staging"))
    assert threads == {}
    assert results["alpha"].good.count() == 54
    assert threads == {"alpha": threading.get_ident()}
    assert results["alpha"].splits == 1
    assert results["alpha"].input_bytes == os.path.getsize(
        tmp_path / "staging" / "alpha.tsv")


def test_deferred_result_builds_once_under_concurrent_access():
    """Many threads touching one deferred result race its first access:
    the plan is built exactly once and every thread reads that build."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    from harbourbridge_spark.convert import ConversionResult

    builds = []

    def build():
        time.sleep(0.01)    # hold the build open while others arrive
        builds.append(object())
        return SimpleNamespace(good=builds[-1], bad=None, obs_good=None,
                               obs_bad=None, obs_all=None, pre=None)

    result = ConversionResult.deferred(build, splits=2, input_bytes=7)
    assert (result.splits, result.input_bytes) == (2, 7) and builds == []
    seen = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: seen.append(result.good))
                   for _ in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1
    assert len(seen) == 16 and all(g is builds[0] for g in seen)
    with pytest.raises(AttributeError):
        result.no_such_field


@pytest.mark.parametrize("target", ["sqlite", "derby"])
def test_cli_shared_file_sinks_write_one_table_at_a_time(
        spark, tmp_path, monkeypatch, target):
    """sqlite and Derby tables share one database file: the pool plans
    them concurrently, but no two table writes overlap."""
    import threading
    import time

    from harbourbridge_spark import sink
    from harbourbridge_spark.sink import jdbc_writer

    mod, name = (sink, "write_table_to_sqlite") if target == "sqlite" \
        else (jdbc_writer, "write_table_to_derby")
    real = getattr(mod, name)
    spans = []

    def timed(*args, **kw):
        t0 = time.perf_counter()
        time.sleep(0.2)     # widen each write, so an overlap would show
        out = real(*args, **kw)
        spans.append((t0, time.perf_counter(), threading.get_ident()))
        return out

    monkeypatch.setattr(mod, name, timed)
    ctx = migrate_dump(spark, _three_table_dump(tmp_path), "postgres",
                       str(tmp_path / "out"), target=target)
    assert {t: s.good_rows for t, s in ctx.table_stats.items()} == \
        {"zeta": 40, "alpha": 54, "mid": 25}
    spans.sort()
    assert len(spans) == 3
    assert len({th for _, _, th in spans}) > 1     # pooled, not width 1
    for (_, end, _), (start, _, _) in zip(spans, spans[1:]):
        assert end <= start


def test_cli_failed_plan_build_raises_and_is_not_credited(
        spark, tmp_path, monkeypatch):
    """A table whose plan build raises fails like a failed write: the
    error re-raises once the pool has drained, that table is credited
    nothing, and the other tables are written."""
    from harbourbridge_spark.context import MigrationContext
    from harbourbridge_spark.sources import pgdump

    boom = RuntimeError("plan build failed")
    real = pgdump.convert_table

    def flaky(ctx, df, src_table, *args, **kw):
        if src_table == "alpha":
            raise boom
        return real(ctx, df, src_table, *args, **kw)

    monkeypatch.setattr(pgdump, "convert_table", flaky)
    ctx = MigrationContext()
    out = tmp_path / "out"
    with pytest.raises(RuntimeError) as info:
        migrate_dump(spark, _three_table_dump(tmp_path), "postgres",
                     str(out), ctx)
    assert info.value is boom
    alpha = ctx.table_stats.get("alpha")
    assert alpha is None or (alpha.good_rows, alpha.bad_rows) == (0, 0)
    assert not os.path.exists(out / "alpha.parquet")
    for table, n in (("zeta", 40), ("mid", 25)):
        assert ctx.table_stats[table].good_rows == n
        assert spark.read.parquet(str(out / f"{table}.parquet")).count() \
            == n
    assert not os.path.exists(out / "_staging")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("target", ["parquet", "sqlite"])
def test_cli_pooled_plans_ignore_session_parse_state(
        spark, tmp_path, monkeypatch, target):
    """Plan builds run on pool threads, so they must not read session
    parse state: with escapedStringLiterals on, the pooled run and a
    width-1 run write byte-identical report, session and dropped
    files — the same bytes as a run under the default conf."""
    from harbourbridge_spark import cli

    dump = _three_table_dump(tmp_path)
    names = ("report.txt", "session.json", "alpha.dropped.txt")

    def run(out):
        migrate_dump(spark, dump, "postgres", str(tmp_path / out),
                     target=target)
        return [open(tmp_path / out / n).read() for n in names]

    default = run("default")
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        pooled = run("pooled")
        real_pool = cli.ThreadPoolExecutor
        monkeypatch.setattr(cli, "ThreadPoolExecutor",
                            lambda max_workers: real_pool(max_workers=1))
        serial = run("serial")
    finally:
        spark.conf.unset(key)
    assert pooled == serial == default


def _leaf_names(df):
    """Leaf operators of ``df``'s executed plan, after running it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize("max_split", [None, "128b"])
def test_cli_single_split_sample_reads_the_cache(
        spark, tmp_path, monkeypatch, max_split):
    """A table converted as one input split samples its bad rows from
    the disk copy the good write left (an in-memory-relation scan, no
    second text scan); a multi-split table keeps the plain plan and is
    never persisted."""
    from harbourbridge_spark import cli

    seen = []
    real = cli.write_bad_data

    def spy(bad, path, max_rows=100):
        seen.append((_leaf_names(bad.limit(max_rows)),
                     spark._jsparkSession.sharedState().cacheManager()
                     .isEmpty()))
        return real(bad, path, max_rows)

    monkeypatch.setattr(cli, "write_bad_data", spy)
    if max_split:
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_split)
    try:
        migrate_dump(spark, _quarantine_dump(tmp_path), "postgres",
                     str(tmp_path / "out"))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert len(seen) == 2
    for leaves, cache_empty in seen:
        if max_split is None:
            assert "InMemoryTableScan" in leaves
            assert not any(n.startswith("Scan text") for n in leaves)
        else:
            assert cache_empty
            assert "InMemoryTableScan" not in leaves
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
