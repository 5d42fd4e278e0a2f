"""A8 progress meter: reference-parity unit semantics
(internal/progress.go:24-85) + monotone 0->100 output during a real
two-table migration."""

import io
import os
import re

import pytest

from harbourbridge_spark.progress import (MigrationProgress, Progress,
                                          track_table_job)


def _pcts(out: str) -> list:
    return [int(m) for m in re.findall(r"(\d+)%", out)]


def test_progress_reference_semantics():
    buf = io.StringIO()
    p = Progress(200, "copy", verbose=True, out=buf)
    p.maybe_report(1)          # 0% -> no new report (integer pct unchanged)
    p.maybe_report(100)        # 50%
    p.maybe_report(90)         # regression ignored
    p.maybe_report(100)        # duplicate ignored
    p.maybe_report(1000)       # clamps to 100
    pcts = _pcts(buf.getvalue())
    assert pcts == [0, 50, 100]
    assert p.progress == 1000 and p.pct == 100

    # zero-total tasks are born complete (progress.go:35-37)
    buf2 = io.StringIO()
    Progress(0, "empty", verbose=True, out=buf2)
    assert _pcts(buf2.getvalue()) == [100]

    # non-verbose: overwrite in place with \b\b\b, newline at 100%
    buf3 = io.StringIO()
    p3 = Progress(10, "t", out=buf3)
    p3.maybe_report(5)
    p3.done()
    assert buf3.getvalue() == "t:  0%\b\b\b50%\b\b\b100%\n"

    # non-verbose zero-total: the newline fires on the FIRST call too
    # (progress.go:82-84 gates it only on pct==100), so a zero-work
    # task leaves the cursor at start-of-line, not mid-line
    buf4 = io.StringIO()
    p4 = Progress(0, "empty", out=buf4)
    p4.done()
    assert buf4.getvalue() == "empty: 100%\n"


def test_progress_monotone_through_two_table_migration(spark, tmp_path):
    from harbourbridge_spark.sources import pgdump

    f = tmp_path / "d.sql"
    rows_a = ", ".join(f"({i}, 'a-{i}')" for i in range(200))
    rows_b = ", ".join(f"({i}, 'b-{i}')" for i in range(300))
    f.write_text(
        "CREATE TABLE public.alpha (id integer NOT NULL, v text);\n"
        "ALTER TABLE ONLY public.alpha ADD CONSTRAINT apk "
        "PRIMARY KEY (id);\n"
        "CREATE TABLE public.beta (id integer NOT NULL, v text);\n"
        "ALTER TABLE ONLY public.beta ADD CONSTRAINT bpk "
        "PRIMARY KEY (id);\n"
        f"INSERT INTO public.alpha VALUES {rows_a};\n"
        f"INSERT INTO public.beta VALUES {rows_b};\n")
    staging = str(tmp_path / "staging")
    ctx, results = pgdump.migrate_pg_dump(spark, str(f), staging)
    assert set(results) == {"alpha", "beta"}

    # each table weighs what its conversion reads: its staged TSV
    sizes = {t: r.input_bytes for t, r in results.items()}
    assert sizes == {t: os.path.getsize(os.path.join(staging, f"{t}.tsv"))
                     for t in results}
    buf = io.StringIO()
    meter = MigrationProgress(sizes, verbose=True, out=buf)
    for t in sorted(results):
        with track_table_job(spark, meter, t):
            results[t].good.write.mode("overwrite").parquet(
                str(tmp_path / f"out_{t}.parquet"))
    meter.done()

    pcts = _pcts(buf.getvalue())
    assert pcts[0] == 0 and pcts[-1] == 100
    assert pcts == sorted(pcts)                    # monotone
    # the first table's completion lands a strictly intermediate report
    assert any(0 < p < 100 for p in pcts)

    # the CLI writes tables concurrently: over three pooled tables the
    # meter still climbs monotonically from 0 to 100 and credits each
    # table exactly once
    from harbourbridge_spark import progress
    from harbourbridge_spark.cli import migrate_dump

    rows_c = ", ".join(f"({i}, 'c-{i}')" for i in range(250))
    f.write_text(f.read_text().replace(
        "INSERT INTO public.alpha",
        "CREATE TABLE public.gamma (id integer NOT NULL, v text);\n"
        f"INSERT INTO public.gamma VALUES {rows_c};\n"
        "INSERT INTO public.alpha"))
    credited = []
    real_done = progress.MigrationProgress.table_done

    def spy(self, table):
        credited.append(table)
        real_done(self, table)

    progress.MigrationProgress.table_done = spy
    try:
        buf = io.StringIO()
        migrate_dump(spark, str(f), "postgres", str(tmp_path / "cli"),
                     show_progress=True, progress_out=buf)
    finally:
        progress.MigrationProgress.table_done = real_done
    assert sorted(credited) == ["alpha", "beta", "gamma"]
    pcts = _pcts(buf.getvalue())
    assert pcts[0] == 0 and pcts[-1] == 100
    assert pcts == sorted(pcts)


def test_migration_progress_concurrent_tables_stress(tmp_path):
    """Many tables ticking and finishing on concurrent threads: the
    printed percent never goes back, and the meter ends at exactly the
    sum of the table spans once every table is done."""
    import sys
    import threading

    staged = {f"t{i}": 1000 + 37 * i for i in range(16)}
    buf = io.StringIO()
    meter = MigrationProgress(staged, verbose=True, out=buf)

    def table(name):
        for k in range(1, 201):
            meter.task_tick(name, k / 200)
        meter.table_done(name)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=table, args=(t,))
                   for t in staged]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert meter.progress.progress == sum(meter.sizes.values())
    pcts = _pcts(buf.getvalue())
    assert pcts == sorted(pcts) and pcts[-1] == 100


_DISTRIBUTED_DUMPS = {
    "postgres": (
        "CREATE TABLE public.alpha (id integer NOT NULL, v text);\n"
        "CREATE TABLE public.beta (id integer NOT NULL, v text);\n"
        "COPY public.alpha (id, v) FROM stdin;\n"
        + "".join(f"{i}\ta-{i}\n" for i in range(400)) + "\\.\n"
        "INSERT INTO public.beta VALUES "
        + ", ".join(f"({i}, 'b-{i}')" for i in range(300)) + ";\n"),
    "mysql": (
        "CREATE TABLE `alpha` (`id` int NOT NULL, `v` text, "
        "PRIMARY KEY (`id`));\n"
        "CREATE TABLE `beta` (`id` int NOT NULL, `v` text, "
        "PRIMARY KEY (`id`));\n"
        "INSERT INTO `alpha` VALUES "
        + ",".join(f"({i},'a-{i}')" for i in range(400)) + ";\n"
        "INSERT INTO `beta` VALUES "
        + ",".join(f"({i},'b-{i}')" for i in range(300)) + ";\n"),
}


@pytest.mark.parametrize("dialect", ["postgres", "mysql"])
def test_progress_monotone_through_distributed_migration(
        spark, tmp_path, dialect):
    """A distributed pass stages no TSVs: each table weighs the bytes
    its conversion reads (COPY byte ranges, sequenced values), so the
    meter starts below 100% and climbs monotonically to 100%."""
    from harbourbridge_spark.cli import migrate_dump

    f = tmp_path / "d.sql"
    f.write_text(_DISTRIBUTED_DUMPS[dialect])
    buf = io.StringIO()
    ctx = migrate_dump(spark, str(f), dialect, str(tmp_path / "out"),
                       show_progress=True, progress_out=buf,
                       ingest="distributed")
    assert {t: s.good_rows for t, s in ctx.table_stats.items()} == \
        {"alpha": 400, "beta": 300}
    pcts = _pcts(buf.getvalue())
    assert pcts[0] < 100 and pcts[-1] == 100
    assert pcts == sorted(pcts)
