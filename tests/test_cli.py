"""End-to-end CLI lifecycle tests (W1, cmd/cmd.go:39-92): sharded dump
in, tables + schema + session + report out, for both sink targets."""

import os
import sqlite3

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
