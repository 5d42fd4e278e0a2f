"""Tests for report (A4-A7), DDL rendering (K5), and sinks (K1/K2, K7).

Mirrors internal/report_test.go thresholds, spanner/ddl/ast_test.go
ordering, and spanner/batchwriter_test.go fault injection.
"""

import os

import pytest

from harbourbridge_spark import report as R
from harbourbridge_spark import schema_ir as ir
from harbourbridge_spark import types as tt
from harbourbridge_spark.context import MigrationContext
from harbourbridge_spark.ddl import get_ddl, print_create_table, write_schema_file
from harbourbridge_spark.issues import SchemaIssue
from harbourbridge_spark.sink import (BatchWriterConfig, write_bad_data,
                                      write_with_batching)
from harbourbridge_spark.toddl import schema_to_ddl


def _ctx_with_tables() -> MigrationContext:
    ctx = MigrationContext()
    ctx.src_schema["singers"] = ir.SourceTable(
        name="singers", col_names=["id", "name"],
        col_defs={
            "id": ir.SourceColumn("id", tt.SourceType("int8"), not_null=True),
            "name": ir.SourceColumn("name", tt.SourceType("text")),
        },
        primary_keys=[ir.Key("id")])
    ctx.src_schema["albums"] = ir.SourceTable(
        name="albums", col_names=["id", "album_id", "title"],
        col_defs={
            "id": ir.SourceColumn("id", tt.SourceType("int8"), not_null=True),
            "album_id": ir.SourceColumn("album_id", tt.SourceType("int8"), not_null=True),
            "title": ir.SourceColumn("title", tt.SourceType("text")),
        },
        primary_keys=[ir.Key("id"), ir.Key("album_id")],
        foreign_keys=[ir.SourceForeignKey(
            name="fk_singer", columns=["id"],
            refer_table="singers", refer_columns=["id"])])
    schema_to_ddl(ctx, "postgres")
    return ctx


# ------------------------------------------------------------------- ddl
def test_ddl_rendering_and_interleave_order():
    ctx = _ctx_with_tables()
    # make albums interleaved in singers
    ctx.sp_schema["albums"].parent = "singers"
    stmts = get_ddl(ctx, comments=False, protect_ids=False)
    creates = [s for s in stmts if s.startswith("CREATE TABLE")]
    # parent before child despite alphabetical order saying albums first
    assert creates[0].startswith("CREATE TABLE singers")
    assert "INTERLEAVE IN PARENT singers" in creates[1]
    alters = [s for s in stmts if s.startswith("ALTER TABLE")]
    assert alters == ["ALTER TABLE albums ADD CONSTRAINT fk_singer "
                      "FOREIGN KEY (id) REFERENCES singers (id)"]


def test_ddl_protect_ids_and_file(tmp_path):
    ctx = _ctx_with_tables()
    s = print_create_table(ctx.sp_schema["singers"], comments=False,
                           protect_ids=True)
    assert "CREATE TABLE `singers`" in s
    assert "`id` INT64 NOT NULL" in s
    path = str(tmp_path / "schema.txt")
    write_schema_file(ctx, path)
    assert os.path.exists(path)
    assert os.path.exists(path + ".ddl.txt")
    assert "-- Spanner schema for source table" in open(path).read()
    assert "--" not in open(path + ".ddl.txt").read()


# ---------------------------------------------------------------- report
def test_rating_thresholds():
    assert R.good(100, 4) and not R.good(100, 5)
    assert R.ok(100, 32) and not R.ok(100, 33)
    assert R.rate_data(0, 0).startswith("NONE")
    assert R.rate_data(100, 0).startswith("EXCELLENT")
    assert R.rate_data(100, 4).startswith("GOOD")
    assert R.rate_data(100, 20).startswith("OK")
    assert R.rate_data(100, 50).startswith("POOR")
    assert R.rate_schema(0, 0, False, False).startswith("NONE")
    assert R.rate_schema(10, 0, False, False).startswith("EXCELLENT")
    assert "missing primary key" in R.rate_schema(10, 0, True, False)


def test_warning_counting_batched_vs_not():
    ctx = _ctx_with_tables()
    # two Widened (batched note -> no warnings), one Serial (batched
    # warning -> 1), one ForeignKey warning on two cols (-> 2 col warnings)
    ctx.add_issue("singers", "id", SchemaIssue.WIDENED)
    ctx.add_issue("singers", "name", SchemaIssue.WIDENED)
    ctx.add_issue("singers", "id", SchemaIssue.SERIAL)
    ctx.add_issue("singers", "name", SchemaIssue.SERIAL)
    ctx.add_issue("singers", "id", SchemaIssue.FOREIGN_KEY)
    ctx.add_issue("singers", "name", SchemaIssue.FOREIGN_KEY)
    _, cols, warnings = R.analyze_cols(ctx, "singers")
    assert cols == 2
    # SERIAL batched => 1; FOREIGN_KEY per-column => 2
    assert warnings == 3


def test_full_report_renders():
    ctx = _ctx_with_tables()
    ctx.set_data_mode()
    ctx.stats_add_row("singers", 100)
    ctx.stats_add_good_row("singers", 98)
    ctx.stats_add_bad_row("singers", 2)
    ctx.add_issue("singers", "id", SchemaIssue.WIDENED)
    ctx.unexpected("something odd")
    text = R.generate_report(ctx, driver_name="pg_dump")
    assert "Summary of Conversion" in text
    assert "Table albums" in text and "Table singers" in text
    # 98 > 95 -> three decimals, internal/report.go:534-536
    assert "98.000% of 100 rows" in text
    assert "Unexpected Conditions" in text


# ----------------------------------------------------------------- sink
def test_batch_writer_bisection(spark, tmp_path):
    import pyspark.sql.functions as F
    df = spark.range(0, 1000).select(
        F.when(F.col("id").isin(13, 777), -F.col("id"))
         .otherwise(F.col("id")).alias("id"))
    out_dir = str(tmp_path / "writes")
    os.makedirs(out_dir, exist_ok=True)

    def write(rows):
        if any(r.id < 0 for r in rows):
            raise RuntimeError("bad row in batch")

    stats = write_with_batching(
        df.repartition(4), write,
        BatchWriterConfig(count_threshold=100, byte_threshold=1 << 20))
    # exactly the two bad rows dropped, everything else written
    assert stats.rows_dropped == 2
    assert stats.rows_written == 998
    assert stats.retries > 0
    # batchwriter.go Errors() parity: per-error-string counts, one per
    # failing write call (bisection retries included)
    assert list(stats.errors) == ["RuntimeError: bad row in batch"]
    assert stats.errors["RuntimeError: bad row in batch"] >= 2


def test_write_bad_data(spark, tmp_path):
    import pyspark.sql.functions as F
    bad = spark.range(0, 5).select(
        F.col("id").cast("string").alias("v"),
        F.array(F.lit("v")).alias("_hb_errs"))
    path = str(tmp_path / "dropped.txt")
    n = write_bad_data(bad, path, max_rows=3)
    assert n == 3
    content = open(path).read()
    assert "cols=v" in content


# ---------------------------------------------------------------------------
# K1 against a REAL endpoint: sqlite as the in-container stand-in for
# the reference's Spanner RPC writer (spanner/batchwriter.go:291-317)
# ---------------------------------------------------------------------------

def _mk_ctx_table():
    ctx = MigrationContext()
    ctx.src_schema["t"] = ir.SourceTable(
        name="t", col_names=["id", "v"],
        col_defs={
            "id": ir.SourceColumn("id", tt.SourceType("int8"), not_null=True),
            "v": ir.SourceColumn("v", tt.SourceType("text")),
        },
        primary_keys=[ir.Key("id")])
    schema_to_ddl(ctx, "postgres")
    return ctx


def test_sqlite_writer_happy_path(spark, tmp_path):
    import sqlite3
    import pyspark.sql.functions as F
    from harbourbridge_spark.sink import write_table_to_sqlite

    ctx = _mk_ctx_table()
    db = str(tmp_path / "out.db")
    df = spark.range(0, 1000).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    stats = write_table_to_sqlite(
        ctx, df, "t", db, BatchWriterConfig(count_threshold=128))
    assert stats.rows_written == 1000
    assert stats.rows_dropped == 0
    con = sqlite3.connect(db)
    n, distinct = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT id) FROM t").fetchone()
    con.close()
    assert n == 1000 and distinct == 1000


def test_sqlite_writer_bisection_isolates_bad_row(spark, tmp_path):
    """A real IntegrityError (PK collision) inside one batch must be
    bisected down to exactly the offending row; every other row lands."""
    import sqlite3
    import pyspark.sql.functions as F
    from harbourbridge_spark.sink import sqlite_ddl, write_table_to_sqlite

    ctx = _mk_ctx_table()
    db = str(tmp_path / "out.db")
    con = sqlite3.connect(db)
    with con:
        con.execute(sqlite_ddl(ctx, "t"))
        con.execute("INSERT INTO t (id, v) VALUES (500, 'pre-existing')")
    con.close()

    df = spark.range(0, 1000).coalesce(2).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    stats = write_table_to_sqlite(
        ctx, df, "t", db, BatchWriterConfig(count_threshold=256))
    assert stats.rows_written == 999
    assert stats.rows_dropped == 1          # only id=500 collided
    assert stats.retries > 0                # bisection actually ran
    con = sqlite3.connect(db)
    n = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
    v500 = con.execute("SELECT v FROM t WHERE id = 500").fetchone()[0]
    con.close()
    assert n == 1000
    assert v500 == "pre-existing"           # failed insert never replaced it


def test_pg_dump_to_sqlite_end_to_end(spark, tmp_path):
    """Dump parse -> typed conversion -> batched sqlite write: the full
    migration path against a real queryable endpoint."""
    import sqlite3
    from harbourbridge_spark.sources import pgdump
    from harbourbridge_spark.sink import write_table_to_sqlite

    f = tmp_path / "d.sql"
    f.write_text(
        "CREATE TABLE public.acct (id integer NOT NULL, bal numeric(10,2), "
        "note text);\n"
        "ALTER TABLE ONLY public.acct ADD CONSTRAINT a_pk PRIMARY KEY (id);\n"
        "INSERT INTO public.acct VALUES (1, 10.50, 'first'), "
        "(2, NULL, 'tab\\there'), (3, 99.99, NULL);\n")
    ctx, results = pgdump.migrate_pg_dump(spark, str(f),
                                          str(tmp_path / "staging"))
    db = str(tmp_path / "acct.db")
    stats = write_table_to_sqlite(ctx, results["acct"].good, "acct", db)
    assert stats.rows_written == 3
    con = sqlite3.connect(db)
    rows = dict((r[0], r[1:]) for r in
                con.execute("SELECT id, bal, note FROM acct").fetchall())
    con.close()
    # NUMERIC affinity: sqlite stores the numeric-looking text as 10.5
    assert rows[1] == (10.5, "first")
    assert rows[2][0] is None
    assert rows[3][1] is None


def test_dbapi_writer_distributed_bisection(spark, tmp_path):
    """The generic executor-side DB-API writer (the production path for
    server endpoints — jdbc_writer.py is the driver-local JDBC-error
    testbed): distributed foreachPartition write through a picklable
    connect factory, transactional batches, and the bisection isolating
    exactly one PK-colliding row."""
    import pyspark.sql.functions as F
    from harbourbridge_spark.sink import write_table_dbapi
    from harbourbridge_spark.sink.dbapi_writer import SqliteConnectFactory

    db = str(tmp_path / "dbapi.db")
    factory = SqliteConnectFactory(db)
    df = spark.range(0, 1000).repartition(4).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    ddl = 'CREATE TABLE "t" ("id" BIGINT PRIMARY KEY, "v" TEXT)'
    con = factory()
    con.execute('SELECT 1')  # factory sanity
    con.close()

    # seed the collision before the distributed write
    con = factory()
    con.execute(ddl)
    con.execute('INSERT INTO "t" ("id", "v") VALUES (500, \'pre\')')
    con.commit()
    con.close()

    stats = write_table_dbapi(
        df, factory, "t", ["id", "v"],
        config=BatchWriterConfig(count_threshold=128))
    assert stats.rows_written == 999
    assert stats.rows_dropped == 1
    assert stats.retries > 0
    assert any(r[0] == 500 for r in stats.dropped_samples)
    con = factory()
    assert con.execute('SELECT COUNT(*) FROM "t"').fetchone()[0] == 1000
    assert con.execute(
        'SELECT "v" FROM "t" WHERE "id" = 500').fetchone()[0] == "pre"
    con.close()


def test_dbapi_writer_adapts_each_row_once(tmp_path, monkeypatch):
    """A write that bisects around duplicate keys adapts each row
    exactly once: retries write the already-adapted rows, while the
    dropped-row samples keep the original (unadapted) values."""
    import datetime as dt

    from harbourbridge_spark.sink import dbapi_writer, write_rows_locally
    from harbourbridge_spark.sink.dbapi_writer import (DbApiInsertWriter,
                                                       SqliteConnectFactory)

    calls = []
    adapt = dbapi_writer._adapt
    monkeypatch.setattr(dbapi_writer, "_adapt",
                        lambda v: calls.append(v) or adapt(v))
    factory = SqliteConnectFactory(str(tmp_path / "once.db"))
    con = factory()
    con.execute('CREATE TABLE "t" ("id" BIGINT PRIMARY KEY, "d" TEXT)')
    con.commit()
    con.close()
    day = dt.date(2024, 1, 2)
    dups = {37, 250, 251, 600}
    rows = [(i, day) for i in range(1000)] + [(i, day) for i in sorted(dups)]
    stats = write_rows_locally(
        rows, DbApiInsertWriter(factory, "t", ["id", "d"]),
        BatchWriterConfig(count_threshold=256))
    assert stats.retries > 0
    assert stats.rows_written == 1000
    assert stats.rows_dropped == len(dups)
    assert len(calls) == 2 * len(rows)
    assert sorted(stats.dropped_samples) == [(i, day) for i in sorted(dups)]
    con = factory()
    assert con.execute(
        'SELECT COUNT(*), MIN("d"), MAX("d") FROM "t"').fetchone() == (
        1000, "2024-01-02", "2024-01-02")
    con.close()


def test_dbapi_writer_paramstyles():
    from harbourbridge_spark.sink import DbApiInsertWriter

    w = DbApiInsertWriter(lambda: None, "t", ["a", "b"], "qmark")
    assert w._sql() == 'INSERT INTO "t" ("a", "b") VALUES (?, ?)'
    w = DbApiInsertWriter(lambda: None, "t", ["a", "b"], "format")
    assert w._sql() == 'INSERT INTO "t" ("a", "b") VALUES (%s, %s)'
    w = DbApiInsertWriter(lambda: None, "t", ["a", "b"], "numeric")
    assert w._sql() == 'INSERT INTO "t" ("a", "b") VALUES (:1, :2)'
