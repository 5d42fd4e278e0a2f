"""Distributed COPY-block splitter (the 100 TB ingest path): the
positional scanner + executor-side chunk reader must produce results
bit-identical to the staged driver-loop path — same rows, same
sequence-derived synthetic PKs, same table order — on adversarial
dumps, sharded multi-file dumps, and at any chunk size."""

import io
import os
import random

import pytest

from harbourbridge_spark.sources import pgdump
from harbourbridge_spark.sources.pgdump import _OffsetReader


def _results_fingerprint(results):
    return {t: sorted(map(tuple, r.good.collect())) for t, r in
            results.items()}


def _ctx_fingerprint(ctx):
    """Everything the schema pass writes into ctx — the distributed
    schema pass (r11) must reproduce the serial pass bit-for-bit:
    parsed schema, per-statement-kind counters, per-table row stats,
    the SET-timezone location, and the ordered unexpected log."""
    return {
        "schema": {t: (list(st.col_names),
                       {c: repr(st.col_defs[c]) for c in st.col_names},
                       repr(st.primary_keys), repr(st.foreign_keys),
                       repr(st.indexes))
                   for t, st in ctx.src_schema.items()},
        "stmts": {k: (v.schema, v.data, v.skip, v.error)
                  for k, v in ctx.statement_stats.items()},
        "rows": {t: v.rows for t, v in ctx.table_stats.items()},
        "location": ctx.location,
        "unexpected": list(ctx.unexpecteds.items()),
    }


def _assert_modes_identical(spark, paths, tmp_path, chunk_bytes=32 << 20):
    if isinstance(paths, (str, os.PathLike)):
        paths = str(paths)
    else:
        paths = [str(p) for p in paths]
    ctx1, r1 = pgdump.migrate_pg_dump(spark, paths,
                                      str(tmp_path / "st"))
    ctx2, r2 = pgdump.migrate_pg_dump(spark, paths,
                                      str(tmp_path / "di"),
                                      mode="distributed",
                                      chunk_bytes=chunk_bytes)
    assert list(r1) == list(r2)          # same tables, same order
    f1, f2 = _results_fingerprint(r1), _results_fingerprint(r2)
    assert f1 == f2
    # bad rows split identically too
    for t in r1:
        assert sorted(r1[t].bad.collect()) == sorted(r2[t].bad.collect())
    assert _ctx_fingerprint(ctx1) == _ctx_fingerprint(ctx2)
    return ctx1, ctx2, r1


ADVERSARIAL_DUMP = (
    "CREATE TABLE public.t1 (id integer NOT NULL, v text, "
    "PRIMARY KEY (id));\n"
    "CREATE TABLE public.t2 (x integer, y text, z text);\n"
    "CREATE TABLE public.empty_t (e integer);\n"
    # dollar-quoted function body containing a FAKE COPY header and a
    # fake terminator — must not open a data block
    "CREATE FUNCTION public.f() RETURNS void AS $body$\n"
    "COPY public.t1 (id, v) FROM stdin;\n"
    "999\tnot-data\n"
    "\\.\n"
    "$body$ LANGUAGE sql;\n"
    # a string literal containing a fake COPY header across lines
    "COMMENT ON TABLE public.t1 IS 'line1\n"
    "COPY public.t2 (x, y, z) FROM stdin;\n"
    "line3';\n"
    # real block: escapes, a line starting with backslash-dot-extra
    # (data, NOT a terminator), an empty line (one empty field)
    "COPY public.t1 (id, v) FROM stdin;\n"
    "1\thello\n"
    "2\tback\\\\slash and \\t tab\n"
    "3\t\\.x starts like a terminator\n"
    "4\t\\N\n"
    "\\.\n"
    # empty COPY block
    "COPY public.empty_t (e) FROM stdin;\n"
    "\\.\n"
    # multiple statements on one line, COPY after a mid-line semicolon
    "SET timezone = 'UTC';COPY public.t2 (z, x) FROM stdin;\n"
    "reordered\t20\n"
    "\\.\n"
    # INSERT interleaved between two blocks of the same table
    "INSERT INTO public.t1 (id, v) VALUES (10, 'ins; with semi'), "
    "(11, 'qu''ote');\n"
    "COPY public.t1 (id, v) FROM stdin;\n"
    "12\tsecond block\n"
    "\\.\n"
    # data for a table with no CREATE (unknown table)
    "COPY public.ghost (g) FROM stdin;\n"
    "1\n"
    "\\.\n"
    "-- trailing comment\n")


def test_adversarial_dump_modes_identical(spark, tmp_path):
    f = tmp_path / "adv.sql"
    f.write_text(ADVERSARIAL_DUMP)
    ctx1, ctx2, r1 = _assert_modes_identical(spark, f, tmp_path)
    # the fake in-function block stayed closed: row 999 never appears
    ids = {row.id for row in r1["t1"].good.collect()}
    assert 999 not in ids
    assert {1, 2, 3, 4, 10, 11, 12} <= ids
    # reordered partial column list remapped; missing column is NULL
    t2 = {row.x: row for row in r1["t2"].good.collect()}
    assert t2[20].z == "reordered" and t2[20].y is None
    # unknown-table data flagged in both modes
    assert any("ghost" in m for m in ctx1.unexpecteds)
    assert any("ghost" in m for m in ctx2.unexpecteds)


def test_crlf_dump_modes_identical(spark, tmp_path):
    body = ("CREATE TABLE public.c (id integer NOT NULL, v text);\r\n"
            "COPY public.c (id, v) FROM stdin;\r\n"
            "1\tone\r\n"
            "2\ttwo\r\n"
            "\\.\r\n")
    f = tmp_path / "crlf.sql"
    f.write_bytes(body.encode())
    _, _, r1 = _assert_modes_identical(spark, f, tmp_path)
    assert {row.v for row in r1["c"].good.collect()} == {"one", "two"}


def test_tiny_chunks_force_many_tasks(spark, tmp_path):
    """chunk_bytes far below the block size: every few rows become
    their own executor task, and the result must not change."""
    rows = "".join(f"{i}\tvalue-{i:04d}\n" for i in range(200))
    f = tmp_path / "big.sql"
    f.write_text(
        "CREATE TABLE public.b (id integer NOT NULL, v text, "
        "PRIMARY KEY (id));\n"
        "COPY public.b (id, v) FROM stdin;\n" + rows + "\\.\n")
    _assert_modes_identical(spark, f, tmp_path, chunk_bytes=64)
    # the scanner really did cut many chunks
    with open(f, "rb") as fh:
        events, _stop, _clean = pgdump._collect_scan_events(
            fh, 0, None, 64, hard_allowance=None)
    chunks = [r for ev in events
              if ev[0] == "copy" and ev[1] == "b" for r in ev[3]]
    assert len(chunks) > 10
    assert sum(n for _s, _e, n in chunks) == 200
    # chunks tile the block: contiguous byte ranges (sequences are
    # composed later by _migrate_distributed from the event timeline)
    for a, b in zip(chunks, chunks[1:]):
        assert a[1] == b[0]


def test_multifile_shards_concurrent_scan(spark, tmp_path):
    """A table's rows spanning three shard files, with INSERTs mixed
    in: concurrent scans + path-order offset composition must equal
    the sequential staged pass exactly (synthetic-PK-bearing seqs)."""
    ddl = ("CREATE TABLE public.s (a integer, b text);\n"
           "CREATE TABLE public.only3 (o integer);\n")
    f1 = tmp_path / "shard1.sql"
    f1.write_text(ddl + "COPY public.s (a, b) FROM stdin;\n"
                  + "".join(f"{i}\tf1-{i}\n" for i in range(50))
                  + "\\.\n"
                  "INSERT INTO public.s (a, b) VALUES (900, 'f1-ins');\n")
    f2 = tmp_path / "shard2.sql"
    f2.write_text("COPY public.s (a, b) FROM stdin;\n"
                  + "".join(f"{i}\tf2-{i}\n" for i in range(50, 120))
                  + "\\.\n")
    f3 = tmp_path / "shard3.sql"
    f3.write_text("INSERT INTO public.s (a, b) VALUES (901, 'f3-ins');\n"
                  "COPY public.only3 (o) FROM stdin;\n"
                  "7\n"
                  "\\.\n")
    paths = [f1, f2, f3]
    ctx1, _, r1 = _assert_modes_identical(spark, paths, tmp_path)
    # no synthetic-PK collisions: seqs are globally unique per table
    from harbourbridge_spark.convert import SEQ_COL  # noqa: F401
    pks = [row.synth_id for row in r1["s"].good.collect()]
    assert len(pks) == len(set(pks)) == 122


def test_cli_distributed_flag(spark, tmp_path):
    from harbourbridge_spark import cli
    f = tmp_path / "d.sql"
    f.write_text("CREATE TABLE public.t (id integer NOT NULL, v text, "
                 "PRIMARY KEY (id));\n"
                 "COPY public.t (id, v) FROM stdin;\n"
                 "1\ta\n2\tb\n\\.\n")
    out = tmp_path / "out"
    ctx = cli.migrate_dump(spark, str(f), "postgres", str(out),
                           ingest="distributed")
    assert ctx.bad_rows() == 0
    assert os.path.exists(out / "t.parquet")
    df = spark.read.parquet(str(out / "t.parquet"))
    assert df.count() == 2


def test_insert_heavy_dump_modes_identical(spark, tmp_path):
    """pg_dump --inserts shape (VERDICT r6 ask 3): an INSERT-only dump
    — multi-row VALUES, reordered column lists, escapes, NULLs —
    must be bit-identical between staged and distributed, including
    the synthetic PKs derived from sequence numbers.  In distributed
    mode the driver never tokenizes a tuple: statements ship verbatim
    to shard files and executors tokenize (the r6 mysql pattern)."""
    f1 = tmp_path / "ins1.sql"
    f1.write_text(
        "CREATE TABLE public.t (id integer NOT NULL, v text, "
        "PRIMARY KEY (id));\n"
        "CREATE TABLE public.nopk (a text, b text);\n"
        + "INSERT INTO public.t VALUES "
        + ",".join(f"({i}, 'row-{i}')" for i in range(100)) + ";\n"
        + "INSERT INTO public.t (v, id) VALUES ('reordered', 900);\n"
        + "INSERT INTO public.t VALUES (901, 'esc''ape'), "
          "(902, NULL);\n"
        + "INSERT INTO public.nopk VALUES ('x', 'y'), ('z', NULL);\n")
    f2 = tmp_path / "ins2.sql"
    f2.write_text(
        "INSERT INTO public.t VALUES "
        + ",".join(f"({i}, 'f2-{i}')" for i in range(1000, 1050))
        + ";\n"
        "INSERT INTO public.nopk VALUES ('second', 'file');\n")
    ctx1, ctx2, r1 = _assert_modes_identical(spark, [f1, f2], tmp_path)
    good = {row.id: row.v for row in r1["t"].good.collect()}
    assert len(good) == 153
    assert good[900] == "reordered" and good[901] == "esc'ape"
    assert good[902] is None
    # synthetic PKs on the PK-less table: globally unique, same set in
    # both modes (covered by the fingerprint, spot-checked here)
    pks = [row.synth_id for row in r1["nopk"].good.collect()]
    assert len(pks) == len(set(pks)) == 3


def test_empty_insert_values_modes_identical(spark, tmp_path):
    """An INSERT matching the INSERT regex whose VALUES text yields
    zero tuples must not crash the distributed migration (ADVICE r6:
    the table entered fs.order with no chunks and dfs[0] threw on an
    empty list) — parity with the staged pass's silent skip."""
    f = tmp_path / "empty_ins.sql"
    f.write_text("CREATE TABLE public.t (id integer NOT NULL, v text, "
                 "PRIMARY KEY (id));\n"
                 "CREATE TABLE public.u (a integer);\n"
                 "INSERT INTO public.u VALUES;\n"
                 "INSERT INTO public.t VALUES (1, 'a');\n")
    ctx1, ctx2, r1 = _assert_modes_identical(spark, f, tmp_path)
    assert "u" not in r1                # zero-tuple table skipped
    assert [row.id for row in r1["t"].good.collect()] == [1]


def test_eof_terminator_without_newline_modes_identical(spark, tmp_path):
    """A dump ending with the COPY terminator '\\.' and NO trailing
    newline (ADVICE r6: the pending terminator candidate resolved as a
    bogus data row after EOF) must match the staged pass."""
    f = tmp_path / "eof_term.sql"
    f.write_text("CREATE TABLE public.t (id integer NOT NULL, v text, "
                 "PRIMARY KEY (id));\n"
                 "COPY public.t (id, v) FROM stdin;\n"
                 "1\ta\n2\tb\n\\.")           # no trailing newline
    ctx1, ctx2, r1 = _assert_modes_identical(spark, f, tmp_path)
    assert sorted(row.id for row in r1["t"].good.collect()) == [1, 2]
    assert r1["t"].bad.count() == 0


def test_scan_data_block_eof_terminator_no_newline():
    """Unit twin of the EOF-terminator fix at every buffer size."""
    for bufsize in (3, 4, 7, 16, 8 << 20):
        chunks, end = _scan_all(b"1\ta\n2\tb\n\\.", bufsize, 1 << 20)
        assert sum(c[2] for c in chunks) == 2
        assert chunks[-1][1] == 8        # block ends before the '\.'
        assert end == 10                 # reader consumed the terminator
        # CR variant: '\.\r' at EOF is still a terminator line
        chunks, end = _scan_all(b"1\ta\r\n\\.\r", bufsize, 1 << 20)
        assert sum(c[2] for c in chunks) == 1
        assert chunks[-1][1] == 5


def test_cli_mysql_distributed_matches_staged(spark, tmp_path):
    """--dialect mysql --ingest distributed through the full CLI
    lifecycle (VERDICT r6 ask 2): identical parquet rows, report, and
    schema artifacts to the staged pass."""
    from harbourbridge_spark import cli
    f = tmp_path / "m.sql"
    f.write_text(
        "CREATE TABLE `acct` (`id` int NOT NULL, `bal` decimal(10,2), "
        "`note` text, PRIMARY KEY (`id`));\n"
        "INSERT INTO `acct` VALUES (1,10.50,'first'),(2,20.00,'quo''te'),"
        "(3,30.25,NULL);\n"
        "INSERT INTO `acct` VALUES (4,NULL,'fourth');\n")
    outs, outd = tmp_path / "staged", tmp_path / "dist"
    cli.migrate_dump(spark, str(f), "mysql", str(outs), ingest="staged")
    ctx = cli.migrate_dump(spark, str(f), "mysql", str(outd),
                           ingest="distributed")
    assert ctx.bad_rows() == 0
    rows_s = sorted(map(tuple, spark.read.parquet(
        str(outs / "acct.parquet")).collect()))
    rows_d = sorted(map(tuple, spark.read.parquet(
        str(outd / "acct.parquet")).collect()))
    assert rows_s == rows_d and len(rows_d) == 4
    assert (open(outs / "schema.txt").read()
            == open(outd / "schema.txt").read())
    assert (open(outs / "report.txt").read()
            == open(outd / "report.txt").read())


# ---------------------------------------------------------------------------
# scanner unit level: byte-exact block ranges at any buffer size
# ---------------------------------------------------------------------------

def _scan_all(data: bytes, bufsize: int, chunk_bytes: int):
    r = _OffsetReader(io.BytesIO(data), bufsize=bufsize)
    chunks = r.scan_data_block(chunk_bytes)
    return chunks, r.base + r.pos


@pytest.mark.parametrize("bufsize", [3, 7, 16, 64, 8 << 20])
def test_scan_data_block_buffer_boundaries(bufsize):
    """The \\. terminator and row boundaries must be found even when
    they straddle buffer refills."""
    rows = [b"1\tabc", b"2\tx\\.y", b"", b"3\t\\N"]
    block = b"\n".join(rows) + b"\n"
    data = block + b"\\.\nAFTER"
    chunks, end = _scan_all(data, bufsize, chunk_bytes=1 << 20)
    assert sum(c[2] for c in chunks) == 4
    assert chunks[0][0] == 0
    assert chunks[-1][1] == len(block)
    # reader is positioned after the terminator line
    assert end == len(block) + 3


@pytest.mark.parametrize("bufsize", [5, 11, 8 << 20])
def test_scan_data_block_crlf_and_empty(bufsize):
    data = b"1\ta\r\n2\tb\r\n\\.\r\nrest"
    chunks, end = _scan_all(data, bufsize, 1 << 20)
    assert sum(c[2] for c in chunks) == 2
    assert chunks[-1][1] == 10
    assert end == 14

    chunks, end = _scan_all(b"\\.\nX", bufsize, 1 << 20)   # empty block
    assert chunks == []
    assert end == 3


def test_scan_data_block_eof_without_terminator():
    data = b"1\ta\n2\tb"          # truncated dump: final line unterminated
    chunks, end = _scan_all(data, 4, 1 << 20)
    assert sum(c[2] for c in chunks) == 2
    assert end == len(data)


def test_scan_data_block_random_layouts():
    """Property-style: random rows (escape-shaped content, empty lines)
    with random buffer/chunk sizes — chunks must tile the block, be
    line-aligned, and count every row exactly once."""
    rng = random.Random(42)
    alphabet = ["a", "bb", "\\\\", "\\t", "x\\.y", "", "long" * 20]
    for _ in range(60):
        nrows = rng.randrange(0, 40)
        rows = []
        for _ in range(nrows):
            ncols = rng.randrange(1, 4)
            rows.append("\t".join(rng.choice(alphabet)
                                  for _ in range(ncols)))
        block = "".join(r + "\n" for r in rows).encode()
        data = block + b"\\.\n" + b"-- tail\n"
        bufsize = rng.choice([3, 5, 17, 64, 1024])
        chunk_bytes = rng.choice([1, 16, 64, 1 << 20])
        chunks, end = _scan_all(data, bufsize, chunk_bytes)
        assert sum(c[2] for c in chunks) == nrows
        assert end == len(block) + 3
        if chunks:
            assert chunks[0][0] == 0
            assert chunks[-1][1] == len(block)
            for a, b in zip(chunks, chunks[1:]):
                assert a[1] == b[0]
            for c in chunks:
                # line-aligned: every chunk ends just after a newline
                assert data[c[1] - 1:c[1]] == b"\n"


# ---------------------------------------------------------------------------
# mysql distributed data pass
# ---------------------------------------------------------------------------

from harbourbridge_spark.sources import mysqldump  # noqa: E402


def _assert_mysql_modes_identical(spark, paths, tmp_path):
    if isinstance(paths, (str, os.PathLike)):
        paths = str(paths)
    else:
        paths = [str(p) for p in paths]
    ctx1, r1 = mysqldump.migrate_mysql_dump(spark, paths,
                                            str(tmp_path / "mst"))
    ctx2, r2 = mysqldump.migrate_mysql_dump(spark, paths,
                                            str(tmp_path / "mdi"),
                                            mode="distributed")
    assert list(r1) == list(r2)
    f1 = {t: sorted(map(tuple, r.good.collect())) for t, r in r1.items()}
    f2 = {t: sorted(map(tuple, r.good.collect())) for t, r in r2.items()}
    assert f1 == f2
    for t in r1:
        assert sorted(r1[t].bad.collect()) == sorted(r2[t].bad.collect())
    # recovery + row stats parity
    assert ctx1.reparsed == ctx2.reparsed
    for t in r1:
        assert ctx1.table_stats[t].rows == ctx2.table_stats[t].rows \
            if hasattr(ctx1, "table_stats") else True
    return ctx1, ctx2, r1


MYSQL_ADVERSARIAL = r"""
CREATE TABLE `t1` (
  `id` int NOT NULL,
  `v` varchar(100),
  PRIMARY KEY (`id`)
);
/*!40101 SET NAMES utf8 */;
INSERT INTO `t1` VALUES (1,'hello'),(2,'quo''te'),(3,'back\\slash'),
(4,'semi;colon'),(5,'paren),(trap'),(6,NULL),(7,'tab\there');
INSERT INTO `t1` (`v`, `id`) VALUES ('reordered', 10);
INSERT INTO `t1` VALUES (20, 0x68690A);
INSERT INTO `t1` VALUES (30, TRUE);
CREATE TABLE `empty_t` (`e` int);
INSERT INTO `ghost` VALUES (1);
DELIMITER ;;
CREATE TRIGGER tr BEFORE INSERT ON t1 FOR EACH ROW BEGIN END;;
DELIMITER ;
INSERT INTO `t1` VALUES (40, 'after trigger block');
"""


def test_mysql_adversarial_modes_identical(spark, tmp_path):
    f = tmp_path / "m.sql"
    f.write_text(MYSQL_ADVERSARIAL)
    ctx1, ctx2, r1 = _assert_mysql_modes_identical(spark, f, tmp_path)
    vals = {row.id: row.v for row in r1["t1"].good.collect()}
    assert vals[2] == "quo'te"
    assert vals[3] == "back\\slash"
    assert vals[5] == "paren),(trap"
    assert vals[6] is None
    assert vals[10] == "reordered"
    assert vals[20] == "hi\n"            # hex literal decode
    assert vals[30] == "1"               # TRUE -> 1
    assert vals[40] == "after trigger block"
    assert any("ghost" in m for m in ctx1.unexpecteds)
    assert any("ghost" in m for m in ctx2.unexpecteds)


def test_mysql_multiline_and_recovery_modes_identical(spark, tmp_path):
    """Hand-written multi-line INSERT (real newlines inside the
    statement) plus an unparsable tuple that exercises the re-split
    recovery — both must behave identically in both modes."""
    f = tmp_path / "mr.sql"
    f.write_text(
        "CREATE TABLE `r` (`id` int NOT NULL, `v` text);\n"
        "INSERT INTO `r` VALUES\n"
        "(1, 'line one'),\n"
        "(2, 'line\\ntwo');\n")
    ctx1, ctx2, r1 = _assert_mysql_modes_identical(spark, f, tmp_path)
    vals = {row.id: row.v for row in r1["r"].good.collect()}
    assert vals[1] == "line one"
    assert vals[2] == "line\ntwo"


def test_mysql_multifile_modes_identical(spark, tmp_path):
    f1 = tmp_path / "s1.sql"
    f1.write_text("CREATE TABLE `s` (`a` int, `b` text);\n"
                  + "INSERT INTO `s` VALUES "
                  + ",".join(f"({i},'f1-{i}')" for i in range(50)) + ";\n")
    f2 = tmp_path / "s2.sql"
    f2.write_text("INSERT INTO `s` VALUES "
                  + ",".join(f"({i},'f2-{i}')" for i in range(50, 120))
                  + ";\n")
    _, _, r1 = _assert_mysql_modes_identical(spark, [f1, f2], tmp_path)
    pks = [row.synth_id for row in r1["s"].good.collect()]
    assert len(pks) == len(set(pks)) == 120


def test_cr_inside_insert_literal_modes_identical(spark, tmp_path):
    """A raw carriage return (and CRLF, and lone LF) inside a pg
    standard string literal must survive distributed mode: Hadoop's
    line reader splits shard-file lines on bare CR too, so the
    \\n-only sentinel used to break the statement into garbage
    fragments (code-review r7). Both modes must agree bit-for-bit."""
    f = tmp_path / "cr.sql"
    f.write_text(
        "CREATE TABLE public.t (id integer NOT NULL, v text, "
        "PRIMARY KEY (id));\n"
        "INSERT INTO public.t VALUES (1, 'has\rcarriage'), "
        "(2, 'has\r\nboth'), (3, 'has\nnewline'), (4, 'plain');\n",
        newline="")   # keep the embedded \r bytes verbatim
    ctx1, ctx2, r1 = _assert_modes_identical(spark, f, tmp_path)
    good = {row.id: row.v for row in r1["t"].good.collect()}
    # lone \r and lone \n inside literals survive exactly; a literal
    # \r\n is indistinguishable from a CRLF LINE ENDING at read time,
    # so the documented CRLF-dump normalization (strip one trailing CR
    # per line, S2) maps it to \n — identically in both modes
    assert good == {1: "has\rcarriage", 2: "has\nboth",
                    3: "has\nnewline", 4: "plain"}


def test_mysql_cr_inside_statement_modes_identical(spark, tmp_path):
    """The mysql distributed path shares the fixed shard codec: a
    hand-written INSERT broken across CRLF lines (raw \\r\\n inside
    the statement text) must parse identically in both modes."""
    f = tmp_path / "cr_my.sql"
    f.write_text(
        "CREATE TABLE `t` (`id` int NOT NULL, `v` varchar(20), "
        "PRIMARY KEY (`id`));\r\n"
        "INSERT INTO `t` VALUES\r\n(1, 'a'),\r\n(2, 'b');\r\n",
        newline="")
    from harbourbridge_spark.sources.mysqldump import migrate_mysql_dump
    outs = []
    for mode in ("staged", "distributed"):
        out = tmp_path / mode
        ctx, res = migrate_mysql_dump(spark, str(f), str(out),
                                      mode=mode)
        outs.append({row.id: row.v
                     for row in res["t"].good.collect()})
    assert outs[0] == outs[1] == {1: "a", 2: "b"}


# ---------------------------------------------------------------------------
# byte-range-split statement-boundary scan (VERDICT r7 ask 1)
# ---------------------------------------------------------------------------

def _expand_events(path, events, chunk_bytes=1 << 20):
    """Flatten scan events to a comparable (kind, payload) sequence:
    spans re-parse their byte range (also PROVING every span start is
    a clean point), copy blocks compare header + ranges."""
    import io as _io
    out = []
    with open(path, "rb") as f:
        data = f.read()
    for ev in events:
        if ev[0] == "copy":
            out.append(("copy", ev[1], tuple(ev[2]),
                        tuple(map(tuple, ev[3]))))
            continue
        s, e = ev[1], ev[2]
        for sub in pgdump._scan_dump_statements(
                _io.BytesIO(data[s:e]), chunk_bytes, base=s):
            if sub[0] == "stmt":
                out.append(("stmt", sub[1]))
            elif sub[0] == "copy":
                out.append(("copy!", sub[1]))   # must never happen
    return out


def _exact_events(path, chunk_bytes=1 << 20):
    with open(path, "rb") as f:
        events, _stop, _clean = pgdump._collect_scan_events(
            f, 0, None, chunk_bytes, hard_allowance=None)
    return events


def _ranged_events(path, range_bytes, chunk_bytes=1 << 20,
                   hard_allowance=None):
    size = os.path.getsize(path)
    results = []
    for s in range(0, size, range_bytes):
        res = pgdump._scan_pg_range(path, s, min(s + range_bytes, size),
                                    chunk_bytes,
                                    hard_allowance=hard_allowance)
        res["range_end"] = min(s + range_bytes, size)
        results.append(res)
    return pgdump._reconcile_pg_scan(path, size, results, chunk_bytes)


TRICKY_DUMP = (
    "CREATE TABLE public.t (id integer NOT NULL, v text);\n"
    "INSERT INTO public.t VALUES (1, 'multi\n"
    "line with; semicolons and\n"
    "INSERT INTO public.fake VALUES (9, ''x'');\n"
    "COPY public.t (id, v) FROM stdin;\n"
    "even a fake copy header');\n"
    "INSERT INTO public.t VALUES (2, 'qu''ote'), (3, NULL);\n"
    "/* block comment\n"
    "spanning; lines INSERT INTO nope VALUES (1); */\n"
    "CREATE FUNCTION public.f() RETURNS void AS $body$\n"
    "fake ; statements $notbody$ inside\n"
    "$body$ LANGUAGE sql;\n"
    "COPY public.t (id, v) FROM stdin;\n"
    "10\tdata with 'quotes' and ; semis\n"
    "11\tINSERT INTO public.t VALUES (99, 'trap');\n"
    "12\t\\N\n"
    "\\.\n"
    "INSERT INTO public.t VALUES (4, 'after copy');\n"
    "SET timezone = 'UTC';INSERT INTO public.t VALUES (5, 'mid');\n"
    "-- trailing comment\n")


@pytest.mark.parametrize("range_bytes", [23, 57, 101, 256, 4096])
def test_range_scan_reconciles_exactly(tmp_path, range_bytes):
    """The speculative byte-range scan + reconciliation must produce
    the exact scan's statements and copy blocks at ANY range size —
    boundaries land inside literals, comments, dollar quotes, and
    copy data."""
    f = tmp_path / "tricky.sql"
    f.write_text(TRICKY_DUMP)
    exact = _expand_events(str(f), _exact_events(str(f)))
    got = _expand_events(str(f), _ranged_events(str(f), range_bytes))
    assert got == exact
    assert any(k == "stmt" for k, *_ in exact)
    assert any(k == "copy" for k, *_ in exact)
    assert not any(k == "copy!" for k, *_ in exact)


@pytest.mark.parametrize("range_bytes", [31, 64])
def test_range_scan_hard_stop_recovers(tmp_path, range_bytes):
    """A statement larger than the speculative hard allowance is
    aborted executor-side and recovered exactly by the reconciliation
    rescan."""
    big = "x" * 500
    f = tmp_path / "big_stmt.sql"
    f.write_text(
        "INSERT INTO public.t VALUES (1, 'a');\n"
        f"INSERT INTO public.t VALUES (2, '{big}');\n"
        "INSERT INTO public.t VALUES (3, 'b');\n")
    exact = _expand_events(str(f), _exact_events(str(f)))
    got = _expand_events(
        str(f), _ranged_events(str(f), range_bytes, hard_allowance=50))
    assert got == exact


def test_range_scan_random_differential(tmp_path):
    """Property-style: random dumps (multi-line literals with fake
    headers/semicolons, dollar quotes, comments, CRLF, copy blocks
    with deceptive data) scanned at random range sizes must always
    reconcile to the exact scan."""
    rng = random.Random(7)
    nasty_bits = ["a", "qu''ote", "semi;colon", "INSERT INTO f VALUES (1);",
                  "COPY public.x (a) FROM stdin;", "\\.",
                  "li\nne", "d$tag$q", "--cmt", "/*blk*/", ""]
    for it in range(25):
        lines = ["CREATE TABLE public.t (id integer NOT NULL, "
                 "v text);\n"]
        for i in range(rng.randrange(2, 12)):
            kind = rng.randrange(5)
            if kind == 0:
                lit = "&".join(rng.choice(nasty_bits)
                               for _ in range(rng.randrange(1, 4)))
                lit = lit.replace("'", "''") if rng.random() < 0.3 \
                    else lit.replace("''", "'").replace("'", "''")
                lines.append(
                    f"INSERT INTO public.t VALUES ({i}, '{lit}');\n")
            elif kind == 1:
                rows = "".join(f"{j}\t{rng.choice(nasty_bits)}\n"
                               .replace("\n", "", 1) + "\n"
                               for j in range(rng.randrange(0, 5)))
                lines.append("COPY public.t (id, v) FROM stdin;\n"
                             + rows + "\\.\n")
            elif kind == 2:
                lines.append(f"/* c{i}\nmulti ; line */\n")
            elif kind == 3:
                lines.append(f"CREATE FUNCTION public.f{i}() RETURNS "
                             f"void AS $b$\nfake; {i}\n$b$ "
                             "LANGUAGE sql;\n")
            else:
                lines.append(f"SET x = {i};"
                             f"INSERT INTO public.t VALUES "
                             f"({i + 100}, 'mid');\n")
        body = "".join(lines)
        f = tmp_path / f"rand_{it}.sql"
        f.write_bytes(body.encode())
        exact = _expand_events(str(f), _exact_events(str(f)))
        for range_bytes in (rng.randrange(17, 80),
                            rng.randrange(80, 400)):
            got = _expand_events(str(f),
                                 _ranged_events(str(f), range_bytes))
            assert got == exact, (it, range_bytes)


def test_spark_range_split_modes_identical(spark, tmp_path,
                                           monkeypatch):
    """End-to-end through the Spark job: _RANGE_FLOOR shrunk so even a
    small INSERT-heavy dump splits into many executor ranges; results
    must stay bit-identical to staged."""
    monkeypatch.setattr(pgdump, "_RANGE_FLOOR", 128)
    monkeypatch.setattr(pgdump, "_DIST_MIN_SERIAL_SEC", 0.0)
    f = tmp_path / "many_ranges.sql"
    f.write_text(
        "CREATE TABLE public.t (id integer NOT NULL, v text, "
        "PRIMARY KEY (id));\n"
        "CREATE TABLE public.u (a text);\n"
        + "".join(f"INSERT INTO public.t VALUES ({i}, 'r{i}-multi\n"
                  f"line; with semi');\n" for i in range(40))
        + "COPY public.t (id, v) FROM stdin;\n"
        + "".join(f"{i}\tcopy-{i}\n" for i in range(100, 160))
        + "\\.\n"
        + "INSERT INTO public.u VALUES ('x'), ('y');\n"
        + "INSERT INTO public.ghost VALUES (1);\n")
    ctx1, ctx2, r1 = _assert_modes_identical(spark, f, tmp_path,
                                             chunk_bytes=256)
    ids = {row.id for row in r1["t"].good.collect()}
    assert len(ids) == 100
    assert any("ghost" in m for m in ctx2.unexpecteds)


# ---------------------------------------------------------------------------
# mysql byte-range-split statement scan
# ---------------------------------------------------------------------------

def _my_exact_stmts(path):
    """Ground truth: the staged stream parser's statement list."""
    from harbourbridge_spark.sources import mysqldump as M

    class _Ctx:
        def __init__(self):
            self.skips = 0

        def skip_statement(self, kind):
            self.skips += 1

    ctx = _Ctx()
    with open(path, encoding="utf-8", newline="\n") as f:
        stmts = list(M._iter_statements(f, ctx))
    return stmts, ctx.skips


def _my_ranged_stmts(path, range_bytes, hard_allowance=None):
    """Speculative range scan + reconcile + span re-parse."""
    import io as _io

    from harbourbridge_spark.sources import mysqldump as M

    size = os.path.getsize(path)
    results = []
    for s in range(0, size, range_bytes):
        res = pgdump._scan_pg_range(
            path, s, min(s + range_bytes, size), 1 << 20,
            hard_allowance=hard_allowance,
            scanner=M._scan_mysql_statements)
        res["range_end"] = min(s + range_bytes, size)
        results.append(res)
    events = pgdump._reconcile_pg_scan(
        path, size, results, 1 << 20,
        scanner=M._scan_mysql_statements)
    with open(path, "rb") as f:
        data = f.read()
    stmts, skips = [], 0
    for ev in events:
        if ev[0] == "dblock":
            skips += ev[3]
            continue
        for sub in M._scan_mysql_statements(
                _io.BytesIO(data[ev[1]:ev[2]]), base=ev[1]):
            if sub[0] == "stmt":
                stmts.append(sub[1])
    return stmts, skips


MYSQL_TRICKY = (
    "CREATE TABLE `t` (`id` int NOT NULL, `v` text);\n"
    "INSERT INTO `t` VALUES (1,'semi;colon'),(2,'quo''te'),"
    "(3,'back\\\\slash');\n"
    "# hash comment with ; semi\n"
    "INSERT INTO `t` VALUES\n"
    "(4, 'multi\\nline'),\n"
    "(5, 'x');\n"
    "DELIMITER ;;\n"
    "CREATE TRIGGER tr BEFORE INSERT ON t FOR EACH ROW\n"
    "BEGIN\n"
    "  INSERT INTO fake VALUES (9, 'not; real');\n"
    "END;;\n"
    "DELIMITER ;\n"
    "INSERT INTO `t` VALUES (6, 'after block');\n"
    "SET x = 1;INSERT INTO `t` VALUES (7, 'mid');\n"
    "-- trailing\n")


@pytest.mark.parametrize("range_bytes", [19, 41, 97, 256, 4096])
def test_mysql_range_scan_reconciles_exactly(tmp_path, range_bytes):
    """The mysql speculative range scan must reproduce the staged
    stream parser's exact statement list AND DELIMITER skip count at
    any range size — boundaries land inside literals, stored-program
    blocks, and multi-statement lines."""
    f = tmp_path / "m.sql"
    f.write_text(MYSQL_TRICKY)
    want, want_skips = _my_exact_stmts(str(f))
    got, got_skips = _my_ranged_stmts(str(f), range_bytes)
    assert got == want
    assert got_skips == want_skips == 2
    assert any("after block" in s for s in want)
    assert not any("not; real" in s for s in want)


def test_mysql_range_scan_random_differential(tmp_path):
    """Property-style: random mysql dumps (literal traps, DELIMITER
    blocks, hash/dash comments, multi-line inserts, CRLF) at random
    range sizes always reconcile to the staged parser."""
    rng = random.Random(11)
    bits = ["a", "qu''te", "semi;colon", "back\\\\slash",
            "INSERT INTO f VALUES (1);", "multi\\nline", "",
            "DELIMITER ;;"]
    for it in range(20):
        lines = ["CREATE TABLE `t` (`id` int NOT NULL, `v` text);\n"]
        for i in range(rng.randrange(2, 10)):
            k = rng.randrange(4)
            if k == 0:
                lit = rng.choice(bits)
                lines.append(
                    f"INSERT INTO `t` VALUES ({i}, '{lit}');\n")
            elif k == 1:
                lines.append("DELIMITER ;;\n"
                             f"CREATE TRIGGER tr{i} BEFORE INSERT ON "
                             "t FOR EACH ROW\n"
                             f"BEGIN INSERT INTO x VALUES ({i}); "
                             "END;;\n"
                             "DELIMITER ;\n")
            elif k == 2:
                lines.append(f"# c{i} with ; semi\n")
            else:
                lines.append(f"SET x = {i};"
                             f"INSERT INTO `t` VALUES ({i + 50}, "
                             "'mid');\n")
        body = "".join(lines)
        if it % 3 == 0:
            body = body.replace("\n", "\r\n")
        f = tmp_path / f"mr_{it}.sql"
        f.write_bytes(body.encode())
        want, want_skips = _my_exact_stmts(str(f))
        for range_bytes in (rng.randrange(13, 70),
                            rng.randrange(70, 300)):
            got, got_skips = _my_ranged_stmts(str(f), range_bytes)
            assert got == want, (it, range_bytes)
            assert got_skips == want_skips, (it, range_bytes)


def test_mysql_spark_range_split_modes_identical(spark, tmp_path,
                                                 monkeypatch):
    """End-to-end through the Spark job: shrink the floors so a small
    mysql dump splits into many executor ranges; results, recovery
    stats, and reports must stay identical to staged."""
    monkeypatch.setattr(pgdump, "_RANGE_FLOOR", 128)
    monkeypatch.setattr(pgdump, "_DIST_MIN_SERIAL_SEC", 0.0)
    f = tmp_path / "mbig.sql"
    f.write_text(
        "CREATE TABLE `t` (`id` int NOT NULL, `v` varchar(60), "
        "PRIMARY KEY (`id`));\n"
        "CREATE TABLE `u` (`a` text);\n"
        + "".join(f"INSERT INTO `t` VALUES ({i},'r{i}-semi;colon'),"
                  f"({i + 1000},'q''{i}');\n" for i in range(40))
        + "DELIMITER ;;\n"
          "CREATE TRIGGER tr BEFORE INSERT ON t FOR EACH ROW BEGIN "
          "END;;\n"
          "DELIMITER ;\n"
        + "INSERT INTO `u` VALUES ('x'), ('y');\n"
        + "INSERT INTO `ghost` VALUES (1);\n")
    ctx1, ctx2, r1 = _assert_mysql_modes_identical(spark, f, tmp_path)
    assert len({row.id for row in r1["t"].good.collect()}) == 80
    assert any("ghost" in m_ for m_ in ctx2.unexpecteds)


def test_mysql_conditional_insert_spans_modes_identical(spark,
                                                        tmp_path):
    """Conditional-comment-wrapped INSERTs (/*!40000 INSERT ... */;)
    must not be skipped by the span has-data filter (code-review r8:
    the raw-text INSERT check missed them and distributed mode
    silently dropped their rows)."""
    f = tmp_path / "cond.sql"
    f.write_text(
        "CREATE TABLE `t` (`id` int NOT NULL, `v` text);\n"
        "/*!40000 INSERT INTO `t` VALUES (1,'wrapped')*/;\n"
        "/*!40000 INSERT INTO `t` VALUES (2,'also')*/;\n")
    _, _, r1 = _assert_mysql_modes_identical(spark, f, tmp_path)
    assert {row.id for row in r1["t"].good.collect()} == {1, 2}


def test_mysql_tupleless_table_stats_modes_identical(spark, tmp_path):
    """A table whose only INSERT has an unparsable VALUES list (or an
    all-defaults empty tuple) yields no rows, but its recovery
    counters and row stats must still replay identically to staged
    (code-review r8: the replay iterated only row-yielding tables)."""
    f = tmp_path / "tless.sql"
    f.write_text(
        "CREATE TABLE `ok` (`id` int NOT NULL);\n"
        "CREATE TABLE `broken` (`id` int NOT NULL);\n"
        "INSERT INTO `broken` VALUES (((((;\n"
        "INSERT INTO `ok` VALUES (1),(2);\n")
    ctx1, ctx2, r1 = _assert_mysql_modes_identical(spark, f, tmp_path)
    assert "broken" not in r1
    assert sorted(row.id for row in r1["ok"].good.collect()) == [1, 2]
    assert ctx1.reparsed == ctx2.reparsed
    assert (sorted(m for m in ctx1.unexpecteds)
            == sorted(m for m in ctx2.unexpecteds))


def test_spec_fast_forward_in_big_copy_block(tmp_path):
    """A speculative range starting inside a COPY block bigger than
    the fast-forward threshold must bulk-skip to the terminator
    candidate and still reconcile exactly (the skip is pure
    optimization — a wrong guess fails the cursor match and
    rescans)."""
    rows = "".join(f"{i}\tpayload-{'x' * 40}-{i}\n"
                   for i in range(4000))           # ~200 KB of data
    body = ("CREATE TABLE public.t (id integer NOT NULL, v text);\n"
            "COPY public.t (id, v) FROM stdin;\n"
            + rows + "\\.\n"
            "INSERT INTO public.t VALUES (9000, 'after');\n")
    f = tmp_path / "big_copy.sql"
    f.write_text(body)
    exact = _expand_events(str(f), _exact_events(str(f)))
    size = os.path.getsize(str(f))
    # ranges of ~60 KB: several land fully inside the data block
    got = _expand_events(str(f), _ranged_events(str(f), 60_000))
    assert got == exact
    # the range containing the terminator really did record a sync
    import harbourbridge_spark.sources.pgdump as P
    term_off = body.index("\n\\.\n") + 1
    s = (term_off // 60_000) * 60_000
    res = P._scan_pg_range(str(f), s, min(s + 60_000, size), 1 << 20)
    assert any(abs(x - (term_off + 3)) <= 1 for x in res["syncs"])


def test_skip_to_candidate_terminator_unit():
    """Reader unit: the bounded bulk skip finds '\\n\\\\.' across
    buffer refills and respects its byte budget."""
    data = b"x" * 70000 + b"\n\\.\n" + b"rest"
    for bufsize in (7, 64, 8 << 20):
        r = _OffsetReader(io.BytesIO(data), bufsize=bufsize)
        assert r.skip_to_candidate_terminator(1 << 20) is True
        assert r.base + r.pos == 70001          # at the '\\.' line
    r = _OffsetReader(io.BytesIO(data), bufsize=64)
    assert r.skip_to_candidate_terminator(1000) is False


def test_range_scan_binary_garbage_robustness(tmp_path):
    """Speculative ranges over binary-ish content (invalid UTF-8 in
    what the range believes is SQL) must degrade to the rescan path,
    never crash, and still reconcile exactly when the garbage is COPY
    data of a bytea-ish table."""
    rng = random.Random(3)
    # statements, then a 'copy block' whose rows carry latin-1 bytes
    # that are NOT valid UTF-8 (pg dumps are UTF-8, but a speculative
    # range must not die on a mid-codepoint alignment either way)
    data_rows = b"".join(
        b"%d\t" % i + bytes(rng.randrange(161, 255) for _ in range(20))
        + b"\n" for i in range(200))
    body = (b"CREATE TABLE public.t (id integer NOT NULL, v text);\n"
            b"INSERT INTO public.t VALUES (1, 'a');\n"
            b"COPY public.t (id, v) FROM stdin;\n"
            + data_rows + b"\\.\n"
            b"INSERT INTO public.t VALUES (2, 'b');\n")
    f = tmp_path / "bin.sql"
    f.write_bytes(body)
    size = os.path.getsize(str(f))
    exact = _exact_events(str(f))
    for range_bytes in (97, 499, 2048):
        got = _ranged_events(str(f), range_bytes)
        # compare event layout (copy ranges + span offsets) — the
        # latin-1 bytes aren't decodable for text re-parse, but the
        # boundary structure must be identical
        assert [(e[0], pgdump._ev_start(e), pgdump._ev_end(e))
                for e in got] \
            == [(e[0], pgdump._ev_start(e), pgdump._ev_end(e))
                for e in exact], range_bytes


def test_cutover_hysteresis_band():
    """VERDICT r8 ask 5: estimates inside the hysteresis band decide
    by total bytes (deterministic — same dump, same branch, every
    run); clear-cut estimates decide directly; a zeroed threshold
    (the test-forcing pattern) collapses the band to always-
    distributed."""
    ch = pgdump._choose_distributed
    thr = pgdump._DIST_MIN_SERIAL_SEC
    # clearly below / above the band
    assert ch(0.5 * thr, 1 << 40, thr) is False
    assert ch(2.0 * thr, 0, thr) is True
    # inside the band: bytes rule, independent of the exact estimate
    for est in (0.8 * thr, 1.0 * thr, 1.5 * thr):
        assert ch(est, pgdump._DIST_AMBIG_BYTES - 1, thr) is False
        assert ch(est, pgdump._DIST_AMBIG_BYTES, thr) is True
    # patched-to-zero threshold forces distributed at any estimate
    assert ch(0.0, 0, 0.0) is True


def test_semicolon_copy_data_skips_and_matches(tmp_path):
    """VERDICT r8 ask 6: COPY data containing semicolons made
    speculative mid-data ranges token-walk their whole slice (every
    ';' yielded a fake statement and reset the byte accumulator).
    The bogus-statement-run detector must (a) keep the distributed
    scan bit-identical to exact and (b) actually engage — a mid-data
    speculative scan may yield only a bounded handful of events, not
    one per fake statement."""
    f = tmp_path / "semi.sql"
    rows = 5000
    f.write_text(
        "CREATE TABLE public.t (id integer NOT NULL, v text);\n"
        + "COPY public.t (id, v) FROM stdin;\n"
        + "".join(f"{i}\tval-{i}; with semi; more; txt\n"
                  for i in range(rows))
        + "\\.\n"
        + "INSERT INTO public.t VALUES (1, 'after; semi');\n")
    exact = _expand_events(str(f), _exact_events(str(f)))
    for range_bytes in (4096, 16384, 60000):
        got = _expand_events(str(f), _ranged_events(str(f), range_bytes))
        assert got == exact, range_bytes
    # engagement check: speculative scan from mid-data yields few
    # events (the skip collapses the fake-statement stream)
    import io as _io
    data = f.read_bytes()
    base = len(data) // 2
    bf = _io.BytesIO(data)
    bf.seek(base)
    sync = []
    ev, _stop, _clean = pgdump._collect_scan_events(
        bf, base, len(data), 1 << 20,
        hard_allowance=pgdump._SPEC_HARD_ALLOWANCE, sync_marks=sync)
    assert len(ev) <= pgdump._SPEC_BOGUS_WINDOW + 2, len(ev)
    assert sync, "terminator sync not reached"


def test_interleaved_ddl_data_modes_identical(spark, tmp_path,
                                              monkeypatch):
    """The r11 distributed-schema-pass worst case: DDL scattered
    BETWEEN data blocks (CREATE after another table's data, SET
    timezone mid-file, post-data ALTER adding the PK, an INSERT
    arriving before its table's CREATE) across many forced executor
    ranges.  Staged and distributed must agree on every ctx artifact
    (schema, statement stats, row stats, location, unexpected log)
    and every converted row."""
    monkeypatch.setattr(pgdump, "_RANGE_FLOOR", 96)
    monkeypatch.setattr(pgdump, "_DIST_MIN_SERIAL_SEC", 0.0)
    f = tmp_path / "interleaved.sql"
    f.write_text(
        "SET timezone = 'America/New_York';\n"
        "CREATE TABLE public.a (id integer NOT NULL, ts timestamp "
        "with time zone, PRIMARY KEY (id));\n"
        "COPY public.a (id, ts) FROM stdin;\n"
        "1\t2024-03-10 01:30:00\n"
        "\\.\n"
        # INSERT for a table whose CREATE comes LATER in the dump
        "INSERT INTO public.b VALUES (100, 'early'), (101, 'rows');\n"
        "CREATE TABLE public.b (k integer, w text);\n"
        + "".join(f"INSERT INTO public.b VALUES ({i}, 'x{i}');\n"
                  for i in range(30))
        # DDL sandwiched between two COPY blocks of the same table
        + "COPY public.b (k, w) FROM stdin;\n"
        + "".join(f"{i}\tcopy{i}\n" for i in range(200, 230))
        + "\\.\n"
        "CREATE TABLE public.c (n numeric(6,2));\n"
        "SET timezone = 'UTC';\n"
        "COPY public.a (id, ts) FROM stdin;\n"
        "2\t2024-03-10 01:30:00\n"
        "\\.\n"
        "COPY public.c (n) FROM stdin;\n"
        "12.50\n"
        "\\.\n"
        # post-data schema statements (real pg_dump layout)
        "ALTER TABLE public.b ADD CONSTRAINT b_pk PRIMARY KEY (k);\n"
        "CREATE INDEX c_idx ON public.c (n);\n"
        # an unknown zone: both modes must log + keep the prior zone
        "SET timezone = 'Not/AZone';\n"
        "INSERT INTO public.ghost VALUES (1);\n")
    ctx1, ctx2, r1 = _assert_modes_identical(spark, f, tmp_path,
                                             chunk_bytes=192)
    assert ctx2.location == "UTC"
    assert set(ctx2.src_schema) == {"a", "b", "c"}
    assert [k.column for k in ctx2.src_schema["b"].primary_keys] \
        == ["k"]
    ks = {row.k for row in r1["b"].good.collect()}
    assert {100, 101} <= ks and len(ks) == 62
    assert any("ghost" in m for m in ctx2.unexpecteds)
    assert any("Not/AZone" in m or "VariableSetStmt" in m
               for m in ctx2.unexpecteds)


def test_interleaved_random_differential(spark, tmp_path, monkeypatch):
    """Randomized interleavings of DDL/INSERT/COPY/SET/garbage across
    tiny forced ranges: ctx + results parity on every layout."""
    monkeypatch.setattr(pgdump, "_RANGE_FLOOR", 64)
    monkeypatch.setattr(pgdump, "_DIST_MIN_SERIAL_SEC", 0.0)
    rng = random.Random(1107)
    for it in range(3):
        made = []
        lines = []
        for i in range(rng.randrange(20, 40)):
            roll = rng.random()
            if roll < 0.2:
                t = f"t{len(made)}"
                made.append(t)
                lines.append(f"CREATE TABLE public.{t} "
                             "(id integer, v text);\n")
            elif roll < 0.5 and made:
                t = rng.choice(made)
                lines.append(
                    f"INSERT INTO public.{t} VALUES ({i}, 'se;mi\n"
                    f"multi{i}'), ({i + 1000}, NULL);\n")
            elif roll < 0.8 and made:
                t = rng.choice(made)
                body = "".join(f"{j}\tc{j}\n"
                               for j in range(i * 10, i * 10 + 5))
                lines.append(f"COPY public.{t} (id, v) FROM stdin;\n"
                             f"{body}\\.\n")
            elif roll < 0.9:
                lines.append(f"SET search_path = p{i};\n")
            else:
                lines.append(f"SELECT set_config('x', '{i}', "
                             "false);\n")
        f = tmp_path / f"ileave_{it}.sql"
        f.write_text("".join(lines))
        _assert_modes_identical(spark, f, tmp_path, chunk_bytes=128)


# ---------------------------------------------------------------------------
# Spark jobs of the distributed ingest, and where its cutover knobs live
# ---------------------------------------------------------------------------

JOBS_PG_DUMP = (
    "CREATE TABLE public.t (id integer NOT NULL, v text, "
    "PRIMARY KEY (id));\n"
    "CREATE TABLE public.u (a text);\n"
    + "".join(f"INSERT INTO public.t VALUES ({i}, 'r{i}-multi\n"
              f"line; with semi');\n" for i in range(40))
    + "COPY public.t (id, v) FROM stdin;\n"
    + "".join(f"{i}\tcopy-{i}\n" for i in range(100, 160))
    + "\\.\n"
    + "INSERT INTO public.u VALUES ('x'), ('y');\n"
    + "INSERT INTO public.ghost VALUES (1);\n")

JOBS_MYSQL_DUMP = (
    "CREATE TABLE `t` (`id` int NOT NULL, `v` varchar(60), "
    "PRIMARY KEY (`id`));\n"
    "CREATE TABLE `u` (`a` text);\n"
    + "".join(f"INSERT INTO `t` VALUES ({i},'r{i}-semi;colon\n"
              f"line'),({i + 1000},'q''{i}');\n" for i in range(40))
    + "DELIMITER ;;\n"
      "CREATE TRIGGER tr BEFORE INSERT ON t FOR EACH ROW BEGIN "
      "END;;\n"
      "DELIMITER ;\n"
    + "INSERT INTO `u` VALUES ('x'), ('y');\n"
    + "INSERT INTO `ghost` VALUES (1);\n")

# Spark jobs one mode="distributed" migrate call submits (the results
# stay deferred, so this is the ingest alone): "serial" is the
# small-input cutover, "ranges" the byte-range job with reconciliation
# rescans, forced by shrinking the cutover knobs
_INGEST_JOBS = {("pg", "serial"): 6, ("pg", "ranges"): 7,
                ("mysql", "serial"): 6, ("mysql", "ranges"): 8}


@pytest.mark.parametrize("branch", ["serial", "ranges"])
@pytest.mark.parametrize("dialect", ["pg", "mysql"])
def test_distributed_ingest_job_counts(spark, tmp_path, monkeypatch,
                                       dialect, branch):
    from harbourbridge_spark import obs
    if branch == "ranges":
        monkeypatch.setattr(pgdump, "_RANGE_FLOOR", 128)
        monkeypatch.setattr(pgdump, "_DIST_MIN_SERIAL_SEC", 0.0)
    f = tmp_path / "jobs.sql"
    if dialect == "pg":
        f.write_text(JOBS_PG_DUMP)
        migrate = pgdump.migrate_pg_dump
    else:
        f.write_text(JOBS_MYSQL_DUMP)
        migrate = mysqldump.migrate_mysql_dump
    jobs = []
    for run in range(2):
        with obs.ledger(spark) as led:
            migrate(spark, str(f), str(tmp_path / f"st{run}"),
                    mode="distributed")
        jobs.append(led["jobs"])
    assert jobs == [_INGEST_JOBS[dialect, branch]] * 2


def test_mysql_range_split_reads_pgdump_knobs(spark, tmp_path,
                                              monkeypatch):
    """The cutover knobs exist once, in pgdump: shrinking them there
    splits a mysql dump into several byte ranges, which reach the
    reconciliation as one summary each."""
    monkeypatch.setattr(pgdump, "_RANGE_FLOOR", 128)
    monkeypatch.setattr(pgdump, "_DIST_MIN_SERIAL_SEC", 0.0)
    ranges = []
    real = pgdump._reconcile_pg_scan

    def spy(path, file_size, results, *args, **kwargs):
        ranges.append(len(results))
        return real(path, file_size, results, *args, **kwargs)

    monkeypatch.setattr(pgdump, "_reconcile_pg_scan", spy)
    f = tmp_path / "knobs.sql"
    f.write_text(JOBS_MYSQL_DUMP)
    _assert_mysql_modes_identical(spark, f, tmp_path)
    assert ranges and ranges[0] > 1, ranges
