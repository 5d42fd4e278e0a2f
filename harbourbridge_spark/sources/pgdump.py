"""pg_dump stream source (S1-S10, S26 in SURVEY §2.1).

Two-pass protocol, mirroring ProcessPgDump
(/root/reference/postgres/pgdump.go:50-84):

Pass 1 (schema): the dump is streamed once on the driver; DDL
statements (CREATE TABLE / ALTER TABLE / CREATE INDEX / SET) are parsed
into the source-schema IR. COPY data blocks are *skipped* but counted
(postgres/pgdump.go:137-141). DDL text is tiny relative to data, so a
driver-side parse is the right distribution boundary — exactly the
reference's structure.

Pass 2 (data): the dump is streamed again (the caller stages stdin to a
seekable file first, like getSeekable, conversion/conversion.go:378-406)
and every COPY block is split out to a per-table staging file, each row
prefixed with a line-sequence number. Spark then reads the staging
files distributed: split on tabs, decode COPY escapes, cast-project via
convert.py. INSERT statements are parsed on the driver and appended to
the same staging files (S8 folds INSERT rows into the same per-table
stream, postgres/pgdump.go:334-371).

Scale notes (100 TB): the staged pass above is the reference-parity
path (one driver loop, postgres/pgdump.go:50-84).  For large dumps use
``mode="distributed"`` (r8): the statement-boundary scan itself runs
as byte-range Spark tasks FUSED with the schema pass, COPY blocks are
skipped with bulk find/count (~500 MB/s/core) into chunk ranges
executors read directly, INSERT spans are tokenized on executors, and
the driver reconciles per-range speculative scans with
a trusted-cursor protocol (see the design comment above
_SPEC_HARD_ALLOWANCE) whose serial-rescan fallback guarantees
exactness on any input.  Driver state is O(ranges + spans), never
O(rows) or O(bytes); sequence numbers compose from per-(span, table)
counts so the output is bit-identical to the staged path.  Every
expensive step (escape decode, casts, error split, write) runs
distributed in both modes.

Statement chunking: the reference accumulates lines until ';' and
re-parses on failure (readAndParseChunk, postgres/pgdump.go:88-120) to
survive semicolons inside strings. We chunk with a quote-aware scanner
(single quotes with '' escapes, $$ dollar quotes, -- and block
comments), which handles the same cases in one pass.
"""

from __future__ import annotations

import json
import math
import os
import re
from dataclasses import dataclass
from typing import Iterator, Optional, TextIO, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema_ir as ir
from ..context import MigrationContext
from ..convert import SEQ_COL, ConversionResult, convert_table
from ..scan import descriptor_frame, file_splits, text_sizes
from ..toddl import schema_to_ddl
from ..types import SourceType

# ---------------------------------------------------------------------------
# statement chunker (S2)
# ---------------------------------------------------------------------------

# table names may be schema-qualified and double-quoted (quoted parts
# can contain spaces): public."tab le"
_NAME = r'(?:[\w]+\.)?"[^"]+"|[\w\".]+'

COPY_RE = re.compile(
    rf"^COPY\s+(?P<table>{_NAME})\s*(?:\((?P<cols>[^)]*)\)\s*)?FROM\s+stdin"
    r"\s*;\s*$",
    re.IGNORECASE)


@dataclass
class Statement:
    text: str           # full statement text (without trailing data block)
    line: int           # 1-based line number where the statement started


@dataclass
class CopyBlock:
    table: str
    cols: list[str]
    first_row_line: int
    rows: Iterator[str]  # raw tab-separated row lines (terminator excluded)
    nrows: Optional[int] = None  # pre-counted (bulk schema pass); rows empty


class _PushbackLines:
    """Line iterator over a text stream that also supports bulk chunk
    reads with pushback — the schema pass skips COPY bodies with
    C-speed scans instead of per-line Python, then hands unconsumed
    text back to line iteration.  readline() (not file iteration)
    keeps the underlying buffer coherent across the mode switches."""

    def __init__(self, stream: TextIO):
        self.stream = stream
        self.buffer = ""

    def __iter__(self):
        return self

    def __next__(self) -> str:
        buf = self.buffer
        if buf:
            nl = buf.find("\n")
            if nl >= 0:
                self.buffer = buf[nl + 1:]
                return buf[:nl + 1]
            self.buffer = ""
            line = buf + (self.stream.readline() or "")
            if line:
                return line
            raise StopIteration
        line = self.stream.readline()
        if not line:
            raise StopIteration
        return line

    def read_chunk(self, n: int) -> str:
        if self.buffer:
            out, self.buffer = self.buffer, ""
            return out
        return self.stream.read(n)

    def pushback(self, text: str) -> None:
        self.buffer = text + self.buffer


def _copy_term_end(buf: str, k: int, eof: bool):
    """If a COPY terminator line starts at ``k`` (a line start),
    return the index just past it; ``"maybe"`` if more input could
    still complete one; None if ``k`` starts a data row."""
    if not buf.startswith("\\.", k):
        return None
    p = k + 2
    if p == len(buf):
        return p if eof else "maybe"
    c = buf[p]
    if c == "\n":
        return p + 1
    if c == "\r":
        if p + 1 == len(buf):
            return p + 1 if eof else "maybe"
        if buf[p + 1] == "\n":
            return p + 2
    return None


def _bulk_count_copy_rows(src: _PushbackLines) -> tuple[int, int]:
    """Count COPY data rows up to the ``\\.`` terminator with chunked
    C-speed scans (find/count), matching _read_copy_rows' line
    semantics exactly (CRLF rows, unterminated-at-EOF blocks, rows
    that merely START with ``\\.``).  Returns (n_rows,
    lines_consumed); text after the terminator is pushed back."""
    rows = 0
    buf = ""
    eof = False
    while True:
        if not eof:
            chunk = src.read_chunk(1 << 20)
            if chunk:
                buf += chunk
            else:
                eof = True
        # buf always begins at a line start
        r = _copy_term_end(buf, 0, eof)
        if r == "maybe":
            continue
        if r is not None:
            src.pushback(buf[r:])
            return rows, rows + 1
        start, boundary = 0, -1
        while True:
            j = buf.find("\n\\.", start)
            if j < 0:
                break
            r = _copy_term_end(buf, j + 1, eof)
            if r == "maybe":
                boundary = j + 1
                break
            if r is not None:
                rows += buf.count("\n", 0, j + 1)
                src.pushback(buf[r:])
                return rows, rows + 1
            start = j + 1
        if boundary >= 0:
            rows += buf.count("\n", 0, boundary)
            buf = buf[boundary:]
            continue
        if eof:
            # no terminator: every line (incl. a final partial) is a row
            rows += buf.count("\n")
            if buf and not buf.endswith("\n"):
                rows += 1
            return rows, rows
        # keep the last partial line (it may be an incomplete row OR
        # the start of a terminator split across the chunk boundary)
        cut = buf.rfind("\n") + 1
        rows += buf.count("\n", 0, cut)
        buf = buf[cut:]


# below this, the exact token scan is cheap enough that the count
# checks aren't worth their own passes (tests lower it to force both
# paths over the same input)
_FAST_INSERT_MIN_LEN = 4096


def _iter_statements(stream: TextIO, on_copy,
                     copy_rows: bool = True) -> Iterator[Statement]:
    """Yield SQL statements from a pg_dump stream; COPY data blocks are
    handed to ``on_copy(CopyBlock)`` inline (they must be consumed
    before the iterator resumes).

    Statements split at every top-level semicolon — including several
    statements on ONE line (pg_dump doesn't emit those, but hand-edited
    and tool-generated dumps do; the reference's parser handles them,
    postgres/pgdump_test.go "Multiple statements on one line"). CRLF
    dumps are normalized by stripping one trailing CR per line — the
    COPY terminator ``\\.\\r`` otherwise reads as a data row and every
    last column gains a carriage return.

    ``copy_rows=False`` (schema pass): COPY bodies are bulk-counted
    with C-speed chunk scans instead of per-line Python — the blocks
    arrive with ``nrows`` set and an empty ``rows`` iterator.  On a
    COPY-format dump this takes pass 1 from per-row Python cost to
    ~I/O speed (the r10 10 GB-rehearsal cliff)."""
    parts: list[str] = []
    start_line = 1
    st = _SqlScanState()
    lineno = 0
    src = _PushbackLines(stream) if not copy_rows else None
    it = iter(src) if src is not None else iter(stream)

    def _read_copy_rows() -> Iterator[str]:
        nonlocal lineno
        for data_raw in it:
            lineno += 1
            data_line = data_raw.rstrip("\n")
            if data_line.endswith("\r"):
                data_line = data_line[:-1]
            if data_line == "\\.":
                return
            yield data_line

    def _try_copy(segment: str) -> bool:
        """A fresh statement segment that is a COPY header: hand the
        following data lines to on_copy. (pg format: data always starts
        on the next physical line, so the header ends its line.)"""
        nonlocal lineno
        m = COPY_RE.match(segment.strip())
        if not m:
            return False
        table = _clean_name(m.group("table"))
        # no column list = table column order (legal COPY; pg_dump
        # always lists columns, hand-written dumps may not)
        cols = [_clean_name(c.strip()) for c in
                (m.group("cols") or "").split(",") if c.strip()]
        if src is not None:
            n, consumed = _bulk_count_copy_rows(src)
            first = lineno + 1
            lineno += consumed
            on_copy(CopyBlock(table, cols, first, iter(()), nrows=n))
        else:
            on_copy(CopyBlock(table, cols, lineno + 1,
                              _read_copy_rows()))
        return True

    for raw in it:
        lineno += 1
        line = raw.rstrip("\n")
        if line.endswith("\r"):
            line = line[:-1]
        stripped = line.strip()
        if not parts and not st.in_block_comment:
            start_line = lineno
            if not stripped or stripped.startswith("--"):
                continue
            if not st.in_squote and st.in_dollar is None \
                    and _try_copy(line):
                continue
            # FAST PATH for long extended-INSERT lines (the dominant
            # bytes of --inserts dumps): pure C-speed count checks
            # prove the whole line is ONE complete statement, skipping
            # the per-token scan loop (~2000 Python-loop events per
            # 1000-tuple line).  Proof sketch: with no dollar tags,
            # comment openers, or backslash-quote sequences anywhere
            # in the line, string regions are delimited purely by "'"
            # chars ('' doubling adds 2), so an EVEN quote count means
            # every string is terminated; the line's single ';' is its
            # last non-ws char, and a ';' inside a string would need a
            # closing quote after it — contradiction, so the ';' is
            # top-level.  Any other shape (including false negatives
            # like a "--" inside a value) falls through to the exact
            # scanner — the fast path can only decline, never
            # mis-split.
            if not st.in_squote and st.in_dollar is None \
                    and len(line) >= _FAST_INSERT_MIN_LEN \
                    and line[:6].upper() == "INSERT" \
                    and line.count(";") == 1 \
                    and "$" not in line and "--" not in line \
                    and "/*" not in line and "\\'" not in line \
                    and line.count("'") % 2 == 0:
                stmt_text = line.rstrip()
                if stmt_text.endswith(";"):
                    yield Statement(stmt_text, start_line)
                    continue
        # scan for top-level semicolons, tracking quotes, dollar
        # quotes, and /* */ block comments; split statements mid-line
        # (delegated to the shared regex-token scanner — see
        # _scan_sql_to_semi; the per-line states mirror _SqlScanState)
        seg_start = 0
        copy_consumed = False
        comment_start = len(line)
        while True:
            semi, comment_start = _scan_sql_to_semi(st, line, seg_start)
            if semi < 0:
                break
            segment = line[seg_start:semi + 1]
            text = "\n".join(parts + [segment]) if parts \
                else segment
            yield Statement(text, start_line)
            parts = []
            seg_start = semi + 1
            start_line = lineno
            rest = line[seg_start:]
            if rest.strip() and _try_copy(rest):
                copy_consumed = True
                break
        if copy_consumed:
            continue
        comment_tail = comment_start < len(line)
        tail = line[seg_start:]
        # a comment-only residue after a mid-line ';' must NOT seed the
        # next statement: the data pass gates on startswith('INSERT')
        # against un-stripped text, so leading comment text would
        # silently drop the following INSERT's rows
        if comment_tail and not parts \
                and not line[seg_start:comment_start].strip():
            continue
        if comment_tail or parts or tail.strip() \
                or st.in_squote or st.in_dollar is not None \
                or st.in_block_comment:
            if parts or tail.strip() or st.in_squote \
                    or st.in_dollar is not None:
                parts.append(tail)
    if parts and any(p.strip() for p in parts):
        yield Statement("\n".join(parts), start_line)


def strip_sql_comments(stmt: str) -> str:
    """Remove /* */ and -- comments outside string literals (the DDL
    parsers see clean statement text; the chunker already guarantees
    statement boundaries).

    Called once per STATEMENT, including multi-MB INSERTs — the old
    per-char loop was the single hottest function of the schema pass
    (profiled 8.7 s of a 400k-row dump's 10.8 s). Comment-free
    statements (every pg_dump INSERT) return via one C-speed
    containment check; the strip itself is a span-copying token walk."""
    if "--" not in stmt and "/*" not in stmt:
        return stmt
    out: list[str] = []
    i, n = 0, len(stmt)
    keep_from = 0
    in_squote = False
    while i < n:
        if in_squote:
            j = stmt.find("'", i)
            if j < 0:
                i = n
                break
            if j + 1 < n and stmt[j + 1] == "'":
                i = j + 2
            else:
                in_squote = False
                i = j + 1
            continue
        m = _SQL_TOKEN_RE.search(stmt, i)
        if not m:
            i = n
            break
        tok = m.group(0)
        if tok == "'":
            in_squote = True
            i = m.end()
        elif tok == "/*":
            out.append(stmt[keep_from:m.start()])
            end = stmt.find("*/", m.end())
            i = keep_from = (end + 2) if end != -1 else n
        elif tok == "--":
            out.append(stmt[keep_from:m.start()])
            end = stmt.find("\n", m.start())
            i = keep_from = end if end != -1 else n
        else:                      # ';' or '$tag$': not special here
            i = m.end()
    out.append(stmt[keep_from:n])
    return "".join(out)


def _clean_name(name: str) -> str:
    """Strip quotes and the default 'public.' schema prefix, mirroring
    the reference's table naming (postgres/pgdump.go getTableName)."""
    name = name.strip().strip('"')
    parts = [p.strip('"') for p in name.split(".")]
    if len(parts) == 2 and parts[0] == "public":
        return parts[1]
    return ".".join(parts)


# ---------------------------------------------------------------------------
# DDL statement parsers (S5, S6, S7, S9, S10)
# ---------------------------------------------------------------------------

_CREATE_TABLE_RE = re.compile(
    rf"^CREATE\s+TABLE\s+(?P<name>{_NAME})\s*\((?P<body>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_ALTER_NOTNULL_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?:ONLY\s+)?(?P<table>{_NAME})\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[\w\"]+)\s+SET\s+NOT\s+NULL\s*;?\s*$", re.IGNORECASE)
_ALTER_CONSTRAINT_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?:ONLY\s+)?(?P<table>{_NAME})\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>[\w\"]+)\s+(?P<rest>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_PK_RE = re.compile(r"^PRIMARY\s+KEY\s*\((?P<cols>[^)]*)\)", re.IGNORECASE)
_UNIQUE_RE = re.compile(r"^UNIQUE\s*\((?P<cols>[^)]*)\)", re.IGNORECASE)
_FK_RE = re.compile(
    rf"^FOREIGN\s+KEY\s*\((?P<cols>[^)]*)\)\s+REFERENCES\s+"
    rf"(?P<ref>{_NAME})\s*\((?P<refcols>[^)]*)\)"
    r"(?:\s+ON\s+DELETE\s+(?P<ondelete>CASCADE|RESTRICT|SET\s+NULL|SET\s+DEFAULT|NO\s+ACTION))?"
    r"(?:\s+ON\s+UPDATE\s+(?P<onupdate>CASCADE|RESTRICT|SET\s+NULL|SET\s+DEFAULT|NO\s+ACTION))?",
    re.IGNORECASE)
_INDEX_RE = re.compile(
    rf"^CREATE\s+(?P<unique>UNIQUE\s+)?INDEX\s+(?P<name>[\w\"]+)\s+ON\s+"
    rf"(?P<table>{_NAME})\s+(?:USING\s+\w+\s+)?\((?P<cols>[^)]*)\)\s*;?\s*$",
    re.IGNORECASE)
_SET_TZ_RE = re.compile(
    r"^SET\s+(?:TIME\s+ZONE|timezone\s*=)\s*(?P<val>[^;]+);?\s*$",
    re.IGNORECASE)
_INSERT_HEAD_RE = re.compile(
    rf"INSERT\s+INTO\s+(?P<table>{_NAME})\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?VALUES\s*",
    re.IGNORECASE)


def _match_insert(s: str):
    """(table, cols, values_text) of an INSERT statement, or None.
    The old single regex captured the body with a LAZY ``.*?`` plus an
    anchored ``\\s*;?\\s*$`` tail, which re-attempts the tail match at
    every position — O(len) regex-engine steps over multi-MB extended
    INSERTs (profiled ~45 MB/s on the r10 ingest rehearsal, and every
    INSERT passes here twice across the two passes).  Matching the
    HEADER only and slicing the body off is O(header); the slice
    reproduces the old group semantics exactly (trailing whitespace
    and one optional ';' stripped)."""
    m = _INSERT_HEAD_RE.match(s)
    if not m:
        return None
    v = s[m.end():].rstrip()
    if v.endswith(";"):
        v = v[:-1].rstrip()
    return m.group("table"), m.group("cols"), v

# column types that may appear in pg dumps, longest-match first; mirrors
# the id set of toSpannerType (postgres/toddl.go:107-163)
_MULTIWORD_TYPES = [
    "timestamp without time zone", "timestamp with time zone",
    "time without time zone", "time with time zone",
    "double precision", "character varying", "character",
]


def _parse_type(type_text: str) -> SourceType:
    """Parse a pg column type like 'character varying(20)[]',
    'numeric(38, 9)', or the ANSI form 'integer ARRAY[4]' into a
    SourceType (postgres also accepts ARRAY without brackets)."""
    t = type_text.strip()
    array_bounds: list[int] = []
    # ANSI SQL array syntax: '<type> ARRAY' or '<type> ARRAY[n]'
    m = re.search(r"\s+ARRAY(?:\s*\[\s*\d*\s*\])?\s*$", t, re.IGNORECASE)
    if m:
        array_bounds.append(-1)
        t = t[:m.start()].strip()
    # bracketed bounds, sized or not: 'integer[]', 'integer[4][2]'
    # (pg ignores the sizes but the DIMENSION count decides the
    # multi-dimensional-array issue, pg_dump.go type handling)
    while True:
        m = re.search(r"\[\s*(\d*)\s*\]\s*$", t)
        if not m:
            break
        array_bounds.append(int(m.group(1)) if m.group(1) else -1)
        t = t[:m.start()].strip()
    array_bounds.reverse()
    mods: tuple = ()
    m = re.search(r"\((?P<mods>[^)]*)\)\s*$", t)
    if m:
        mods = tuple(int(x.strip()) for x in m.group("mods").split(",")
                     if x.strip().lstrip("-").isdigit())
        t = t[:m.start()].strip()
    return SourceType(t.lower(), mods, tuple(array_bounds))


def _split_top_level(body: str) -> list[str]:
    """Split a CREATE TABLE body on top-level commas."""
    parts, depth, in_squote, cur = [], 0, False, []
    for ch in body:
        if in_squote:
            cur.append(ch)
            if ch == "'":
                in_squote = False
            continue
        if ch == "'":
            in_squote = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


_COL_CONSTRAINT_WORDS = re.compile(
    r"\s+(NOT\s+NULL|NULL|DEFAULT\s+.*|PRIMARY\s+KEY|UNIQUE|CHECK\s*\(.*|"
    r"REFERENCES\s+.*|GENERATED\s+.*)$",
    re.IGNORECASE | re.DOTALL)


def _parse_create_table(ctx: MigrationContext, stmt: str) -> bool:
    """S5 (postgres/pgdump.go:267-315)."""
    m = _CREATE_TABLE_RE.match(stmt.strip())
    if not m:
        return False
    name = _clean_name(m.group("name"))
    table = ir.SourceTable(name=name)
    for item in _split_top_level(m.group("body")):
        up = item.upper()
        if up.startswith("CONSTRAINT"):
            cm = re.match(r"CONSTRAINT\s+([\w\"]+)\s+(.*)$", item,
                          re.IGNORECASE | re.DOTALL)
            if cm:
                _apply_constraint(ctx, table, cm.group(2),
                                  _clean_name(cm.group(1)))
            continue
        if (up.startswith("PRIMARY KEY") or up.startswith("UNIQUE")
                or up.startswith("FOREIGN KEY") or up.startswith("CHECK")
                or up.startswith("EXCLUDE") or up.startswith("LIKE")):
            _apply_constraint(ctx, table, item, "")
            continue
        # column definition: name type [constraints]
        cm = re.match(r'^(?P<name>"[^"]+"|[\w$]+)\s+(?P<rest>.*)$', item,
                      re.DOTALL)
        if not cm:
            ctx.unexpected(f"unparsable column def: {item[:80]}")
            continue
        col_name = cm.group("name").strip('"')
        rest = cm.group("rest").strip()
        ignored = ir.Ignored()
        not_null = bool(re.search(r"\bNOT\s+NULL\b", rest, re.IGNORECASE))
        unique = bool(re.search(r"\bUNIQUE\b", rest, re.IGNORECASE))
        is_pk = bool(re.search(r"\bPRIMARY\s+KEY\b", rest, re.IGNORECASE))
        if re.search(r"\bDEFAULT\b", rest, re.IGNORECASE):
            ignored.default = True
        if re.search(r"\bCHECK\b", rest, re.IGNORECASE):
            ignored.check = True
        if re.search(r"\bGENERATED\b.*\bIDENTITY\b", rest,
                     re.IGNORECASE | re.DOTALL):
            ignored.identity = True
        # strip trailing constraint words to isolate the type
        type_text = _COL_CONSTRAINT_WORDS.sub("", " " + rest).strip()
        st = _parse_type(type_text)
        if st.name in ("serial", "bigserial"):
            not_null = True  # serial implies NOT NULL in pg
        table.col_names.append(col_name)
        table.col_defs[col_name] = ir.SourceColumn(
            col_name, st, not_null=not_null, unique=unique, ignored=ignored)
        if is_pk:
            table.primary_keys.append(ir.Key(col_name))
            table.col_defs[col_name].not_null = True
    ctx.src_schema[name] = table
    ctx.schema_statement("CreateStmt")
    return True


def _apply_constraint(ctx: MigrationContext, table: ir.SourceTable,
                      text: str, name: str) -> None:
    """S10 (postgres/pgdump.go:523-633): normalize a table constraint."""
    text = text.strip()
    m = _PK_RE.match(text)
    if m:
        cols = [_clean_name(c) for c in m.group("cols").split(",") if c.strip()]
        table.primary_keys = [ir.Key(c) for c in cols]
        for c in cols:
            if c in table.col_defs:
                table.col_defs[c].not_null = True
        return
    m = _UNIQUE_RE.match(text)
    if m:
        cols = [_clean_name(c) for c in m.group("cols").split(",") if c.strip()]
        # UNIQUE constraint -> unique index (T16, postgres/pgdump.go:618-626)
        table.indexes.append(ir.SourceIndex(
            name=name, unique=True, keys=[ir.Key(c) for c in cols]))
        return
    m = _FK_RE.match(text)
    if m:
        table.foreign_keys.append(ir.SourceForeignKey(
            name=name,
            columns=[_clean_name(c) for c in m.group("cols").split(",") if c.strip()],
            refer_table=_clean_name(m.group("ref")),
            refer_columns=[_clean_name(c) for c in m.group("refcols").split(",") if c.strip()],
            on_delete=(m.group("ondelete") or "").upper(),
            on_update=(m.group("onupdate") or "").upper(),
        ))
        return
    up = text.upper()
    if up.startswith("CHECK"):
        ctx.skip_statement("CheckConstraint")
        return
    ctx.unexpected(f"unhandled constraint: {text[:60]}")


def _parse_alter_table(ctx: MigrationContext, stmt: str) -> bool:
    """S6 (postgres/pgdump.go:222-265)."""
    m = _ALTER_NOTNULL_RE.match(stmt.strip())
    if m:
        t = ctx.src_schema.get(_clean_name(m.group("table")))
        if t is not None:
            col = m.group("col").strip('"')
            if col in t.col_defs:
                t.col_defs[col].not_null = True
                ctx.schema_statement("AlterTableStmt")
                return True
        ctx.skip_statement("AlterTableStmt")
        return True
    m = _ALTER_CONSTRAINT_RE.match(stmt.strip())
    if m:
        t = ctx.src_schema.get(_clean_name(m.group("table")))
        if t is None:
            ctx.skip_statement("AlterTableStmt")
            return True
        _apply_constraint(ctx, t, m.group("rest"), _clean_name(m.group("name")))
        ctx.schema_statement("AlterTableStmt")
        return True
    return False


def _parse_index(ctx: MigrationContext, stmt: str) -> bool:
    """S7 (postgres/pgdump.go:199-220)."""
    m = _INDEX_RE.match(stmt.strip())
    if not m:
        return False
    t = ctx.src_schema.get(_clean_name(m.group("table")))
    if t is None:
        ctx.skip_statement("IndexStmt")
        return True
    keys = []
    for part in m.group("cols").split(","):
        part = part.strip()
        if not part:
            continue
        desc = bool(re.search(r"\bDESC\b", part, re.IGNORECASE))
        col = re.split(r"\s+", part)[0].strip('"')
        keys.append(ir.Key(col, desc))
    t.indexes.append(ir.SourceIndex(
        name=_clean_name(m.group("name")),
        unique=bool(m.group("unique")), keys=keys))
    ctx.schema_statement("IndexStmt")
    return True


def _parse_set(ctx: MigrationContext, stmt: str) -> bool:
    """S9 (postgres/pgdump.go:409-431): capture the dump's timezone.

    The value is validated against the IANA database the same way the
    reference runs time.LoadLocation: an unknown zone is logged as an
    unexpected condition + statement error (pgdump.go:419-423,
    logStmtError) and the previous location is kept, so downstream
    to_utc_timestamp never sees an unresolvable zone id."""
    m = _SET_TZ_RE.match(stmt.strip())
    if not m:
        return False
    val = m.group("val").strip().strip("'\"")
    try:
        import zoneinfo
        zoneinfo.ZoneInfo(val)
    except Exception as e:
        ctx.unexpected(f"Processing VariableSetStmt statement: {e}")
        ctx.error_in_statement("VariableSetStmt")
        return True
    ctx.location = val
    ctx.schema_statement("VariableSetStmt")
    return True


# ---------------------------------------------------------------------------
# INSERT value parsing (S8) — driver-side, like the reference's AST walk
# ---------------------------------------------------------------------------

def _estring_escape(text: str, i: int) -> tuple[str, int]:
    """Decode one C-style escape of a pg E'...' string starting at the
    char AFTER the backslash (text[i]); returns (decoded, next_i).
    Grammar per the PostgreSQL lexer: \\b \\f \\n \\r \\t \\v,
    \\o/\\oo/\\ooo octal, \\xh/\\xhh hex, \\uXXXX / \\UXXXXXXXX
    unicode; any other escaped char is itself (pg's fallback)."""
    simple = {"b": "\b", "f": "\f", "n": "\n", "r": "\r",
              "t": "\t", "v": "\v"}
    c = text[i]
    if c in simple:
        return simple[c], i + 1
    if c in "01234567":
        j = i + 1
        while j < len(text) and j < i + 3 and text[j] in "01234567":
            j += 1
        return chr(int(text[i:j], 8) & 0xFF), j
    if c in "xX":
        j = i + 1
        while j < len(text) and j < i + 3 \
                and text[j] in "0123456789abcdefABCDEF":
            j += 1
        if j > i + 1:
            return chr(int(text[i + 1:j], 16)), j
        return c, i + 1
    if c in "uU":
        width = 4 if c == "u" else 8
        j = i + 1
        end = min(len(text), i + 1 + width)
        while j < end and text[j] in "0123456789abcdefABCDEF":
            j += 1
        if j == i + 1 + width:
            cp = int(text[i + 1:j], 16)
            # PostgreSQL's lexer combines UTF-16 surrogate PAIRS into
            # one code point and rejects lone surrogates; decoding
            # them independently yields Python strings that cannot be
            # UTF-8 encoded (the staging writer would crash much
            # later with UnicodeEncodeError). chr() itself rejects
            # cp > 0x10FFFF with the same ValueError the statement
            # guard quarantines.
            if 0xD800 <= cp <= 0xDBFF:
                # decode the low half's hex directly (recursing into
                # _estring_escape would hit the lone-surrogate
                # rejection below before returning)
                if j + 1 < len(text) and text[j] == "\\" \
                        and text[j + 1] in "uU":
                    w2 = 4 if text[j + 1] == "u" else 8
                    hx = text[j + 2:j + 2 + w2]
                    if len(hx) == w2 and all(
                            ch in "0123456789abcdefABCDEF" for ch in hx):
                        low = int(hx, 16)
                        if 0xDC00 <= low <= 0xDFFF:
                            return chr(0x10000
                                       + ((cp - 0xD800) << 10)
                                       + (low - 0xDC00)), j + 2 + w2
                raise ValueError("invalid Unicode surrogate pair")
            if 0xDC00 <= cp <= 0xDFFF:
                raise ValueError("invalid Unicode surrogate pair")
            return chr(cp), j
        return c, i + 1
    return c, i + 1


# string literals (E-strings first: a backslash-escaped quote inside
# one would terminate the plain pattern early), for the fast tuple
# counter below. The lookbehind keeps a token merely ENDING in e/E
# (e.g. value'...') from being misread as an escape string — the
# parser only honors an exact bare E/e prefix.
_STRING_LIT_RE = re.compile(
    r"(?<![A-Za-z0-9_])[eE]'(?:\\.|''|[^'\\])*'|'(?:''|[^'])*'",
    re.DOTALL)
# after string stripping, a WELL-FORMED VALUES list is strictly
# quote-free tuples; anything else (stray quotes from a strip/parser
# disagreement, unterminated strings) must take the full parse
_PG_CLEAN_TUPLES_RE = re.compile(
    r"\A\s*\([^()']*\)(?:\s*,\s*\([^()']*\))*\s*;?\s*\Z", re.DOTALL)
# action characters of the value tokenizer's normal / E-string states
_VALUE_ACTION_RE = re.compile(r"[',)]")
_ESC_OR_QUOTE_RE = re.compile(r"[\\']")


def _count_insert_tuples(values_text: str) -> int:
    """Tuple count of a VALUES list WITHOUT building the values — the
    schema pass needs only row-count stats, and running the full
    tokenizer there made pass 1 as expensive as the data pass itself
    (profiled: 7 s of a 400k-row dump's 7.9 s schema pass was
    _parse_insert_values). Strings are stripped with one C-speed
    regex (E-string escapes and '' doubling respected), everything
    but parens is dropped, and top-level '(' transitions are counted
    — matching the full parser's tuple model (a tuple ends at the
    first unquoted ')'; pg_dump emits only literals, so nested parens
    are out of grammar for both).

    Statements containing \\u/\\U escapes take the full-parse path so
    invalid Unicode (lone surrogates, cp > 0x10FFFF) is still
    detected AT SCHEMA TIME and lands in the error bucket exactly as
    before — the fast path cannot raise. The stripped residue must
    also pass a strict clean-shape check (quote-free tuples only;
    the mysql counter's abstain rule) — any strip/parser divergence
    leaves stray quotes or unbalanced parens behind and falls back
    to the full parse instead of silently miscounting (code-review
    r7: a token ENDING in e next to a quote used to fool the
    E-string strip)."""
    if "\\u" in values_text or "\\U" in values_text:
        return len(_parse_insert_values(values_text))
    stripped = _STRING_LIT_RE.sub("S", values_text)
    if not _PG_CLEAN_TUPLES_RE.match(stripped):
        return len(_parse_insert_values(values_text))
    return stripped.count("(")


def _parse_insert_values(values_text: str) -> list[list[Optional[str]]]:
    """Parse VALUES (...),(...) tuples into COPY-equivalent string rows
    (None = NULL). Handles quoted strings with '' escapes, E'...'
    escape strings with C-style backslash escapes (the reference's
    pg_query parser decodes these natively,
    /root/reference/postgres/pgdump.go:88-105), numbers, NULL,
    TRUE/FALSE (lowered to pg literals t/f)."""
    # The state machine is EXACTLY the original per-char parser's
    # (including its quirks — post-string whitespace joins the quoted
    # value, unterminated input discards the pending token); only the
    # ADVANCEMENT is bulk: C-speed find/regex jumps between action
    # characters with slice appends, which is what makes the staged
    # data pass and the executor tokenizer run at regex speed on
    # multi-MB extended INSERTs (profiled ~3x). Parity is pinned by a
    # fuzz test against the per-char reference
    # (test_pgdump.test_parse_insert_values_matches_reference).
    rows: list[list[Optional[str]]] = []
    i, n = 0, len(values_text)
    while i < n:
        j = values_text.find("(", i)
        if j < 0:
            break
        i = j + 1
        row: list[Optional[str]] = []
        cur: list[str] = []
        in_squote = False
        in_estring = False
        was_quoted = False
        while i < n:
            if in_squote and in_estring:
                m = _ESC_OR_QUOTE_RE.search(values_text, i)
                if not m:
                    i = n
                    break
                if m.start() > i:
                    cur.append(values_text[i:m.start()])
                i = m.start()
                ch = values_text[i]
                if ch == "\\" and i + 1 < n:
                    dec, i = _estring_escape(values_text, i + 1)
                    cur.append(dec)
                elif ch == "'":
                    if i + 1 < n and values_text[i + 1] == "'":
                        cur.append("'")
                        i += 2
                    else:
                        in_squote = False
                        in_estring = False
                        i += 1
                else:            # lone backslash at end of input
                    cur.append(ch)
                    i += 1
            elif in_squote:
                m2 = values_text.find("'", i)
                if m2 < 0:
                    i = n
                    break
                if m2 > i:
                    cur.append(values_text[i:m2])
                if m2 + 1 < n and values_text[m2 + 1] == "'":
                    cur.append("'")
                    i = m2 + 2
                else:
                    in_squote = False
                    i = m2 + 1
            else:
                m = _VALUE_ACTION_RE.search(values_text, i)
                if not m:
                    i = n
                    break
                if m.start() > i:
                    cur.append(values_text[i:m.start()])
                i = m.start()
                ch = values_text[i]
                if ch == "'":
                    in_squote = True
                    was_quoted = True
                    # E'...' / e'...': the accumulated token is the
                    # escape-string prefix, not data
                    pref = "".join(cur).strip()
                    in_estring = pref in ("E", "e")
                    if in_estring or not pref:
                        cur = []  # drop prefix/whitespace before '
                    i += 1
                else:            # ',' or ')'
                    if was_quoted:
                        row.append("".join(cur))
                    else:
                        tok = "".join(cur).strip()
                        if tok.upper() == "NULL":
                            row.append(None)
                        elif tok.upper() == "TRUE":
                            row.append("t")
                        elif tok.upper() == "FALSE":
                            row.append("f")
                        else:
                            row.append(tok)
                    cur = []
                    was_quoted = False
                    i += 1
                    if ch == ")":
                        break
        rows.append(row)
    return rows


# ---------------------------------------------------------------------------
# the two passes
# ---------------------------------------------------------------------------

# statement prefixes the schema-pass switch parses as DDL (the "D"
# compact events below); everything else is either an INSERT (reduced
# to counts executor-side) or a skip-counted statement kind
_SCHEMA_DDL_PREFIXES = ("CREATE TABLE", "ALTER TABLE", "CREATE INDEX",
                        "CREATE UNIQUE INDEX", "SET")


def _schema_stmt_event(text: str) -> tuple:
    """Reduce one statement to a COMPACT schema-pass event — the
    shared kernel of the serial pass, the distributed range scan
    (executor-side), and the reconciliation rescan, so the three
    cannot drift.  Event forms (counts let executors pre-aggregate):

    - ``("D", stripped_text)`` — DDL: replayed through the full parse
      switch on the driver (CREATE/ALTER/INDEX/SET texts are tiny)
    - ``("K", kind_word, n)`` — skipped statements of that first-word
      kind (statement body is never shipped)
    - ``("I", table, total_rows, n_stmts)`` — INSERT row stats
    - ``("E", n)`` — INSERTs whose shape didn't match
    - ``("X", errmsg)`` — INSERT whose VALUES raise ValueError (e.g.
      lone \\u surrogate, \\U beyond U+10FFFF — pg's own parser
      rejects the statement, so it lands in the error bucket like any
      unparsable statement; both data passes skip it)
    """
    s = strip_sql_comments(text).strip()
    up = s.upper()
    if up.startswith("INSERT"):
        m = _match_insert(s)
        if not m:
            return ("E", 1)
        try:
            n_rows = _count_insert_tuples(m[2])
        except ValueError as e:
            return ("X", str(e))
        return ("I", _clean_name(m[0]), n_rows, 1)
    if up.startswith(_SCHEMA_DDL_PREFIXES):
        return ("D", s)
    # everything else (SELECT set_config, ALTER OWNER, comments...)
    kind = up.split(None, 1)[0] if up else "?"
    return ("K", kind, 1)


def _apply_schema_ddl(ctx: MigrationContext, s: str) -> None:
    """Apply one comment-stripped DDL statement (a "D" event) to ctx —
    the schema-pass parse switch minus the INSERT/skip branches."""
    up = s.upper()
    if up.startswith("CREATE TABLE"):
        if "INHERITS" in up:
            ctx.skip_statement("CreateStmt")  # inherited tables skipped
        elif not _parse_create_table(ctx, s):
            ctx.error_in_statement("CreateStmt")
    elif up.startswith("ALTER TABLE"):
        if not _parse_alter_table(ctx, s):
            ctx.skip_statement("AlterTableStmt")
    elif up.startswith("CREATE INDEX") or up.startswith("CREATE UNIQUE INDEX"):
        if not _parse_index(ctx, s):
            ctx.error_in_statement("IndexStmt")
    else:                                     # SET...
        if not _parse_set(ctx, s):
            ctx.skip_statement("VariableSetStmt")


def _replay_schema_events(ctx: MigrationContext, events) -> None:
    """Apply compact schema-pass events to ctx in statement order.
    ``("C", table, n)`` is the COPY-block form the statement kernel
    never emits (blocks arrive as scan copy events)."""
    for ev in events:
        k = ev[0]
        if k == "D":
            _apply_schema_ddl(ctx, ev[1])
        elif k == "I":
            ctx.stats_add_row(ev[1], ev[2])
            if ctx.schema_mode():
                ctx._sstats("InsertStmt").data += ev[3]
        elif k == "K":
            if ctx.schema_mode():
                ctx._sstats(ev[1].title() + "Stmt").skip += ev[2]
        elif k == "C":
            ctx.stats_add_row(ev[1], ev[2])
            ctx.data_statement("CopyFrom")
        elif k == "E":
            if ctx.schema_mode():
                ctx._sstats("InsertStmt").error += ev[1]
        else:                                 # "X"
            ctx.unexpected(f"unparsable INSERT values: {ev[1]}")
            ctx.error_in_statement("InsertStmt")


def process_pg_dump_schema(ctx: MigrationContext,
                           stream: TextIO) -> None:
    """Pass 1: build ctx.src_schema from the dump (S1 schema mode).
    Serial driver walk — the reference-parity path for small dumps;
    process_pg_dump_schema_distributed is the byte-range twin."""
    ctx.set_schema_mode()

    def on_copy(block: CopyBlock) -> None:
        # copy_rows=False: the body was bulk-counted at chunk speed
        n = block.nrows
        if n is None:
            n = sum(1 for _ in block.rows)
        _replay_schema_events(ctx, [("C", block.table, n)])

    for stmt in _iter_statements(stream, on_copy, copy_rows=False):
        _replay_schema_events(ctx, [_schema_stmt_event(stmt.text)])


class StagingWriter:
    """Per-table staging TSV files shared across dump files.

    Sharded dumps (pg_dump -Fd, mysqldump --tab, manual splits) spread
    one table's rows over several files; the stager must append across
    files and keep one monotone sequence per table, otherwise later
    files truncate earlier rows and the bit-reversed synthetic PKs
    derived from the restarted sequence collide. One writer instance
    spans all dump files of a migration; ``close()`` once at the end.
    """

    def __init__(self, staging_dir: str) -> None:
        os.makedirs(staging_dir, exist_ok=True)
        self.staging_dir = staging_dir
        self.files: dict[str, TextIO] = {}
        self.paths: dict[str, str] = {}
        self.seqs: dict[str, int] = {}

    def file(self, table: str) -> TextIO:
        if table not in self.files:
            path = os.path.join(self.staging_dir, f"{table}.tsv")
            self.files[table] = open(path, "w", encoding="utf-8")
            self.paths[table] = path
            self.seqs[table] = 0
        return self.files[table]

    @staticmethod
    def copy_escape(v: Optional[str]) -> str:
        if v is None:
            return "\\N"
        # NUL is the decode sentinel and pg text disallows it anyway
        return (v.replace("\x00", "").replace("\\", "\\\\")
                 .replace("\t", "\\t")
                 .replace("\n", "\\n").replace("\r", "\\r"))

    def write_raw(self, table: str, row: str) -> None:
        """Append one already-COPY-escaped row."""
        f = self.file(table)
        f.write(f"{self.seqs[table]}\t{row}\n")
        self.seqs[table] += 1

    def write_values(self, table: str, ordered: list) -> None:
        """Append one row of raw (unescaped) string-or-None values."""
        f = self.file(table)
        f.write(f"{self.seqs[table]}\t"
                + "\t".join(self.copy_escape(v) for v in ordered) + "\n")
        self.seqs[table] += 1

    def close(self) -> None:
        for f in self.files.values():
            f.close()
        self.files.clear()


def stage_pg_dump_data(ctx: MigrationContext, stream: TextIO,
                       staging_dir: str,
                       writer: Optional[StagingWriter] = None,
                       ) -> dict[str, str]:
    """Pass 2 splitter: stream the dump once, writing each table's COPY
    rows (and INSERT rows, converted to COPY text format) to
    ``staging_dir/<table>.tsv`` with a prepended sequence column.

    Returns {src_table: staging_path}. Constant driver memory: rows
    stream straight to disk. Pass a shared ``writer`` when one table's
    data spans multiple dump files — it appends and continues each
    table's sequence instead of truncating (the caller closes it).
    """
    own_writer = writer is None
    w = writer if writer is not None else StagingWriter(staging_dir)

    def on_copy(block: CopyBlock) -> None:
        schema_table = ctx.src_schema.get(block.table)
        schema_cols = list(schema_table.col_names) if schema_table else []
        if not block.cols or not schema_table \
                or block.cols == schema_cols:
            # fast path: rows already in schema column order
            for row in block.rows:
                w.write_raw(block.table, row)
            return
        # COPY column list differs from schema order (reordered or
        # partial): re-map fields so the staged TSV is always in
        # schema order; absent columns become NULL
        idx = {c: i for i, c in enumerate(block.cols)}
        for row in block.rows:
            vals = row.split("\t")
            ordered = [vals[idx[c]] if c in idx and idx[c] < len(vals)
                       else "\\N" for c in schema_cols]
            w.write_raw(block.table, "\t".join(ordered))

    for stmt in _iter_statements(stream, on_copy):
        s = stmt.text.strip()
        if not s.upper().startswith("INSERT"):
            continue
        m = _match_insert(s)
        if not m:
            continue
        table = _clean_name(m[0])
        schema_table = ctx.src_schema.get(table)
        if schema_table is None:
            ctx.unexpected(f"INSERT into unknown table {table}")
            continue
        cols = ([_clean_name(c) for c in m[1].split(",")]
                if m[1] else list(schema_table.col_names))
        try:
            tuples = _parse_insert_values(m[2])
        except ValueError:
            # already counted as error_in_statement by the schema
            # pass; skip the statement (reference: pg_query parse
            # error drops the whole statement)
            continue
        for vals in tuples:
            # reorder INSERT cols into full schema column order
            by_col = dict(zip(cols, vals))
            ordered = [by_col.get(c) for c in schema_table.col_names]
            w.write_values(table, ordered)

    if own_writer:
        w.close()
    return dict(w.paths)


def _decode_staged_values(df: DataFrame, ctx: MigrationContext,
                          src_table: str) -> DataFrame:
    """Decode a DataFrame of staged-layout ``value`` strings
    (``seq\\tcol1\\t...``) into SEQ_COL + named source columns: split
    on tabs, decode COPY escapes (\\N null, plus \\\\ \\t \\n \\r; a
    superset of processCopyBlock which only collapses backslashes,
    postgres/pgdump.go:122-152).  Shared by the staged-TSV reader and
    the distributed COPY-chunk reader so both paths decode
    identically.

    Decode order matters: '\\' followed by 'r' in DATA would be mangled
    by naive sequential replaces ('\\\\r' contains the substring
    '\\r'). Escaped backslashes are parked on a NUL sentinel first —
    NUL cannot appear in staged text (pg text disallows it; the
    stagers strip it) — then single-char escapes decode, then the
    sentinel restores to a backslash.
    """
    table = ctx.src_schema[src_table]
    split_layout = "value" not in df.columns
    if split_layout:
        # (seq long, line string) layout from the distributed COPY
        # reader: the sequence never round-trips through a string and
        # the Python side never concatenates per row
        parts = F.split(F.col("line"), "\t")
        cols = [F.col("seq").alias(SEQ_COL)]
        base = 0
    else:
        parts = F.split(F.col("value"), "\t")
        cols = [parts.getItem(0).cast("long").alias(SEQ_COL)]
        base = 1
    nul = F.lit("\x00")
    for i, cn in enumerate(table.col_names):
        raw = parts.getItem(i + base)
        s = F.replace(raw, F.lit("\\\\"), nul)
        s = F.replace(s, F.lit("\\t"), F.lit("\t"))
        s = F.replace(s, F.lit("\\n"), F.lit("\n"))
        s = F.replace(s, F.lit("\\r"), F.lit("\r"))
        s = F.replace(s, nul, F.lit("\\"))
        decoded = F.when(raw == "\\N", F.lit(None)).otherwise(s)
        cols.append(decoded.alias(cn))
    return df.select(*cols)


def read_staged_table(spark: SparkSession, ctx: MigrationContext,
                      src_table: str, path: str) -> DataFrame:
    """Distributed read of a staged TSV (see _decode_staged_values for
    the escape-decode contract), keeping the sequence column for
    deterministic synthetic keys."""
    return _decode_staged_values(spark.read.text(path), ctx, src_table)


# ---------------------------------------------------------------------------
# distributed COPY-block splitter (the 100 TB ingest path)
# ---------------------------------------------------------------------------
#
# The staged path above streams every data row through one Python loop
# on the driver (parity with the reference's one-pass loop,
# postgres/pgdump.go:50-84) — at terabyte scale that loop is the
# wall-clock floor of the whole migration.  The distributed path splits
# the work differently:
#
#   driver:    ONE positional scan per dump file — bulk byte operations
#              only (find/count over 8 MB buffers, C speed): locate each
#              COPY data block, cut it into ~32 MB line-aligned byte
#              ranges, and count rows per range so every chunk knows its
#              global starting sequence number.  No per-row Python.
#   executors: each byte range is one Spark task; the task seeks into
#              the dump file, reads its slice, attaches sequence
#              numbers, and the shared staged-value decoder + cast
#              projection run as ordinary distributed DataFrame work.
#
# Sequence numbers (and therefore bit-reversed synthetic PKs) are
# byte-position-derived, so the result is bit-identical to the staged
# path regardless of how many files/chunks/threads were involved —
# that's also why multi-file scans can run on a thread pool: offsets
# compose deterministically in path order AFTER the scans finish,
# instead of depending on interleaved writer timing.
#
# On a real cluster the dump must live on storage every executor can
# open by path (NFS/fuse mount; for object stores, substitute the
# open() with the store's ranged read) — the same requirement Spark
# itself has for file sources.


@dataclass
class _SqlScanState:
    """Quote/comment state carried across lines by the positional
    scanner — same transitions as _iter_statements' inline machine."""
    in_squote: bool = False
    in_dollar: Optional[str] = None
    in_block_comment: bool = False


# the five token classes the SQL scanner reacts to in NORMAL state;
# leftmost match wins, tokens cannot overlap
_SQL_TOKEN_RE = re.compile(r"'|--|/\*|\$[A-Za-z_]*\$|;")


def _scan_sql_to_semi(st: _SqlScanState, line: str,
                      start: int) -> tuple[int, int]:
    """Advance the quote/comment state over ``line`` from ``start`` up
    to the first top-level ';' (its index is returned; -1 if none).
    The second value is the index where a ``--`` comment begins
    (``len(line)`` if none).  _iter_statements delegates here, so the
    streaming and byte-range parsers share one boundary scanner.

    Implementation: a REGEX TOKEN WALK, not a per-char loop — the
    scanner only does Python work at quote/comment/semicolon tokens
    (C-speed find/search between them), which is what makes the
    driver's statement pass feasible on multi-GB INSERT dumps
    (profiled ~3x on a 400k-row dump; per-char scanning was the
    schema pass's floor)."""
    i, n = start, len(line)
    while i < n:
        if st.in_block_comment:
            j = line.find("*/", i)
            if j < 0:
                return -1, n
            st.in_block_comment = False
            i = j + 2
        elif st.in_squote:
            j = line.find("'", i)
            if j < 0:
                return -1, n
            if j + 1 < n and line[j + 1] == "'":
                i = j + 2              # doubled '' stays inside
            else:
                st.in_squote = False
                i = j + 1
        elif st.in_dollar is not None:
            j = line.find(st.in_dollar, i)
            if j < 0:
                return -1, n
            i = j + len(st.in_dollar)
            st.in_dollar = None
        else:
            m = _SQL_TOKEN_RE.search(line, i)
            if not m:
                return -1, n
            tok = m.group(0)
            if tok == "'":
                st.in_squote = True
            elif tok == "--":
                return -1, m.start()
            elif tok == "/*":
                st.in_block_comment = True
            elif tok == ";":
                return m.start(), n
            else:                      # $tag$ opener
                st.in_dollar = tok
            i = m.end()
    return -1, n


class _OffsetReader:
    """Buffered binary reader over a dump file that serves two modes:
    line-at-a-time for statement parsing (DDL is tiny), and bulk
    byte-range scanning for COPY data blocks (find/count only — no
    per-row Python).  Tracks absolute file offsets throughout."""

    def __init__(self, f, bufsize: int = 8 << 20, base: int = 0) -> None:
        self.f = f
        self.bufsize = bufsize
        self.buf = b""
        self.base = base         # file offset of buf[0] (``base`` > 0
                                 # when ``f`` was seeked: byte-range
                                 # scans report absolute offsets)
        self.pos = 0             # current index into buf
        self.eof = False
        self.line_start = base   # absolute offset of the last line
                                 # returned by readline()

    def _fill(self) -> bool:
        """Compact consumed bytes and append one read; False at EOF."""
        if self.eof:
            return False
        if self.pos:
            self.base += self.pos
            self.buf = self.buf[self.pos:]
            self.pos = 0
        chunk = self.f.read(self.bufsize)
        if not chunk:
            self.eof = True
            return False
        self.buf += chunk
        return True

    def readline(self) -> Optional[bytes]:
        """Next line without its newline; None at EOF."""
        while True:
            nl = self.buf.find(b"\n", self.pos)
            if nl >= 0:
                line = self.buf[self.pos:nl]
                self.line_start = self.base + self.pos
                self.pos = nl + 1
                return line
            if not self._fill():
                if self.pos < len(self.buf):
                    line = self.buf[self.pos:]
                    self.line_start = self.base + self.pos
                    self.pos = len(self.buf)
                    return line
                return None

    def _line_end_at(self, i: int):
        """Does a line end at buffer index ``i``?  True / False / None
        (= candidate may complete after a refill)."""
        if i < len(self.buf):
            c = self.buf[i]
            if c == 0x0A:
                return True
            if c == 0x0D:
                if i + 1 < len(self.buf):
                    return self.buf[i + 1] == 0x0A
                return True if self.eof else None
            return False
        return True if self.eof else None

    def skip_to_candidate_terminator(self, max_bytes: int) -> bool:
        """SPECULATIVE fast-forward: consume up to ``max_bytes``
        looking for the next line that starts with ``\\.`` and
        position at its line start (the caller's line parse decides
        whether it is a real terminator).  Returns False when no
        candidate appears within the budget (position then sits at
        the budget edge / EOF).  Bulk find() only — this is how a
        range that started inside a huge COPY block skips its data at
        ~memory speed instead of token-walking it."""
        consumed = 0
        while True:
            j = self.buf.find(b"\n\\.", self.pos)
            if j >= 0 and j - self.pos <= max_bytes - consumed:
                self.pos = j + 1
                return True
            # keep 2 bytes of tail so a boundary-straddling candidate
            # is still found after the refill
            safe = len(self.buf) - 3
            if safe > self.pos:
                step = min(safe - self.pos, max_bytes - consumed)
                self.pos += step
                consumed += step
            if consumed >= max_bytes:
                return False
            if not self._fill():
                self.pos = len(self.buf)
                return False

    def _find_terminator(self) -> tuple[int, int]:
        """Locate the ``\\.`` terminator line in the buffered region.
        Returns (term_index, safe_end): term_index >= 0 when found
        (index of the backslash, always a line start), else -1 with
        safe_end = index up to which data may be consumed without
        skipping a candidate that spans the buffer boundary."""
        i = self.pos            # the current position is a line start
        if self.buf.startswith(b"\\.", i):
            e = self._line_end_at(i + 2)
            if e is True:
                return i, i
            if e is None:
                return -1, i
        j = self.buf.find(b"\n\\.", self.pos)
        while j >= 0:
            e = self._line_end_at(j + 3)
            if e is True:
                return j + 1, j + 1
            if e is None:
                return -1, j + 1
            j = self.buf.find(b"\n\\.", j + 1)
        return -1, max(self.pos, len(self.buf) - 3)

    def scan_data_block(self, chunk_bytes: int = 32 << 20
                        ) -> list[tuple[int, int, int]]:
        """From the current position (first data line of a COPY block)
        scan to the terminator, returning line-aligned byte ranges
        [(abs_start, abs_end, nrows), ...] of ~chunk_bytes each.  Bulk
        operations only: find() for the terminator, count() for rows.
        Leaves the reader positioned after the terminator line."""
        chunks: list[tuple[int, int, int]] = []
        cur_start = self.base + self.pos
        cur_rows = 0

        def emit(abs_end: int) -> None:
            nonlocal cur_start, cur_rows
            if abs_end > cur_start:
                chunks.append((cur_start, abs_end, cur_rows))
            cur_start = abs_end
            cur_rows = 0

        def consume_to(limit: int) -> None:
            """Consume buffered data [pos, limit) — limit is always a
            line boundary — cutting a chunk at the nearest line
            boundary each time ~chunk_bytes accumulate."""
            nonlocal cur_rows
            while self.pos < limit:
                room = chunk_bytes - (self.base + self.pos - cur_start)
                if limit - self.pos <= room:
                    cur_rows += self.buf.count(b"\n", self.pos, limit)
                    self.pos = limit
                    return
                # cut inside [pos, limit): the last '\n' within the
                # allowance, else the first after it (one oversize line
                # becomes one oversize chunk rather than a split row)
                t = self.pos + max(room, 0)
                nl = self.buf.rfind(b"\n", self.pos, t)
                if nl < self.pos:
                    nl = self.buf.find(b"\n", max(t, self.pos),
                                       limit - 1)
                if nl < self.pos:
                    cur_rows += self.buf.count(b"\n", self.pos, limit)
                    self.pos = limit
                    return
                cur_rows += self.buf.count(b"\n", self.pos, nl + 1)
                self.pos = nl + 1
                emit(self.base + self.pos)

        while True:
            term, safe_end = self._find_terminator()
            if term >= 0:
                consume_to(term)
                emit(self.base + term)
                nl = self.buf.find(b"\n", self.pos)
                while nl < 0 and self._fill():
                    nl = self.buf.find(b"\n", self.pos)
                self.pos = nl + 1 if nl >= 0 else len(self.buf)
                return chunks
            cut = self.buf.rfind(b"\n", self.pos, safe_end)
            if cut >= self.pos:
                consume_to(cut + 1)
            if not self._fill():
                # eof is now known: a pending '\.' candidate whose
                # line-end verdict was None above (terminator with no
                # trailing newline at EOF) resolves on a re-check —
                # without it the terminator would be counted as a
                # bogus data row (staged-path divergence)
                term, _ = self._find_terminator()
                if term >= 0:
                    consume_to(term)
                    emit(self.base + term)
                    self.pos = len(self.buf)
                    return chunks
                # EOF without terminator: the rest is data; a final
                # unterminated line still counts as a row
                had_tail = len(self.buf) > self.pos \
                    and not self.buf.endswith(b"\n")
                consume_to(len(self.buf))
                if had_tail:
                    cur_rows += 1
                emit(self.base + self.pos)
                return chunks


def _scan_dump_statements(f, chunk_bytes: int = 32 << 20,
                          base: int = 0,
                          limit: Optional[int] = None,
                          hard_limit: Optional[int] = None,
                          sync_marks: Optional[list] = None):
    """Positional pass-2 scan of one dump file: yields
    ``("copy", table, cols, [(start, end, nrows), ...], start, end)``
    for each COPY data block (byte ranges, no row materialization) and
    ``("stmt", text, start, end)`` for every other complete statement
    (the caller picks out INSERTs); start/end are absolute byte
    offsets of the event.  Statement boundary rules mirror
    _iter_statements; the differential tests in test_dump_edges hold
    the two parsers to identical results.

    ``base`` is the absolute offset of ``f``'s current position (pass
    a seeked file for byte-range scans).  With ``limit``, the scan
    stops at the first CLEAN point (between statements, no open
    quote/comment/dollar) at/after that offset — events that START
    before the limit are completed even when they end past it (the
    spill rule the distributed reconciliation relies on).
    ``hard_limit`` aborts an in-flight statement past that offset
    without yielding it (the runaway guard for SPECULATIVE range scans
    that start mid-construct and would otherwise accumulate unbounded
    text); exact scans leave it None."""
    r = _OffsetReader(f, base=base)
    st = _SqlScanState()
    parts: list[str] = []
    parts_bytes = 0
    bogus_run = 0
    spec_stmts = spec_bogus = 0
    stmt_start = 0
    hard = hard_limit

    def copy_event(m, start_off: int):
        table = _clean_name(m.group("table"))
        cols = [_clean_name(c.strip()) for c in
                (m.group("cols") or "").split(",") if c.strip()]
        # data chunks are the unit of READ parallelism (one executor
        # task each), so they stay small even when the scan uses large
        # byte ranges: a 5M-row block at 32 MB chunks was 6 read tasks
        # on 32 cores — capping at 8 MB quadruples the read fan-out
        # with no extra scan cost (the cut points fall out of the same
        # bulk pass)
        ranges = r.scan_data_block(min(chunk_bytes, _DATA_CHUNK_BYTES))
        return ("copy", table, cols, ranges, start_off, r.base + r.pos)

    while True:
        pos_abs = r.base + r.pos
        if limit is not None and pos_abs >= limit and not parts \
                and not st.in_squote and st.in_dollar is None \
                and not st.in_block_comment:
            yield ("end", pos_abs, True)
            return
        if hard is not None and pos_abs >= hard:
            # aborted mid-construct: the trailing statement is NOT
            # yielded and the segment past the last yielded event is
            # unverified — the reconciliation must rescan it
            yield ("end", pos_abs, False)
            return
        if sync_marks is not None and parts_bytes > _SPEC_SKIP_BYTES:
            # SPECULATIVE fast-forward: this much accumulated text
            # with no boundary almost certainly means the range
            # started inside COPY data.  Instead of token-walking the
            # rest of the hard window, bulk-find the next candidate
            # '\.' line (the terminator-sync site) at memory speed;
            # correctness is unaffected either way — a wrong guess
            # just fails the reconciliation cursor match and rescans.
            found = r.skip_to_candidate_terminator(
                _SPEC_HARD_ALLOWANCE if hard is None
                else max(hard - pos_abs, 0))
            parts = []
            parts_bytes = 0
            bogus_run = spec_stmts = spec_bogus = 0
            st.in_squote = False
            st.in_dollar = None
            st.in_block_comment = False
            if not found:
                yield ("end", r.base + r.pos, False)
                return
            # grant the post-candidate parse a fresh allowance: the
            # skip may have crossed the original hard window, and the
            # content from the candidate line on is (probably) clean
            if hard is not None:
                hard = max(hard,
                           r.base + r.pos + _SPEC_HARD_ALLOWANCE)
            continue
        bline = r.readline()
        if bline is None:
            break
        line = bline.decode("utf-8")
        if line.endswith("\r"):
            line = line[:-1]
        if sync_marks is not None and line == "\\.":
            bogus_run = spec_stmts = spec_bogus = 0
            # SPECULATIVE terminator sync: a bare '\\.' line is almost
            # certainly the end of a COPY data block this range
            # started inside of.  Reset to a clean state and record
            # the offset — the reconciliation accepts the rest of this
            # range's parse iff its trusted cursor (the block end
            # proven by the block owner's scan) lands exactly on a
            # recorded sync (then both lexers are provably neutral at
            # the same offset).  A false sync (a '\\.' line inside a
            # multi-line literal) just fails the cursor match and
            # falls back to the exact rescan.
            parts = []
            parts_bytes = 0
            st.in_squote = False
            st.in_dollar = None
            st.in_block_comment = False
            sync_marks.append(r.base + r.pos)
            yield ("sync", r.base + r.pos)
            continue
        line_abs = r.line_start
        ascii_line = bline.isascii()

        def b_off(k: int) -> int:
            return line_abs + (k if ascii_line
                               else len(line[:k].encode("utf-8")))

        stripped = line.strip()
        if not parts and not st.in_block_comment:
            if not stripped or stripped.startswith("--"):
                continue
            if not st.in_squote and st.in_dollar is None:
                m = COPY_RE.match(stripped)
                if m:
                    yield copy_event(m, line_abs)
                    continue
        seg_start = 0
        copy_entered = False
        comment_start = len(line)
        while True:
            if not parts:
                stmt_start = b_off(seg_start)
            semi, comment_start = _scan_sql_to_semi(st, line, seg_start)
            if semi < 0:
                break
            segment = line[seg_start:semi + 1]
            text = "\n".join(parts + [segment]) if parts else segment
            yield ("stmt", text, stmt_start, b_off(semi + 1))
            parts = []
            parts_bytes = 0
            if sync_marks is not None:
                spec_stmts += 1
                if _stmt_is_bogus(text):
                    bogus_run += 1
                    spec_bogus += 1
                else:
                    bogus_run = 0
                # mid-COPY signature — either N consecutive non-SQL
                # "statements" or a majority of them over the window
                # (data whose tokens alternate past the verb list,
                # e.g. '...; with ...;') — hand control to the bulk
                # terminator find at the loop top
                if bogus_run >= _SPEC_BOGUS_RUN or (
                        spec_stmts >= _SPEC_BOGUS_WINDOW
                        and spec_bogus * 2 >= spec_stmts):
                    parts_bytes = _SPEC_SKIP_BYTES + 1
                    break
            seg_start = semi + 1
            rest = line[seg_start:].strip()
            if rest:
                # COPY after a mid-line ';': enter data mode without
                # scanning the header chars (a quoted table name could
                # poison the quote state), same as _iter_statements
                m = COPY_RE.match(rest)
                if m:
                    yield copy_event(m, b_off(seg_start))
                    copy_entered = True
                    break
        if copy_entered:
            continue
        tail = line[seg_start:]
        comment_tail = comment_start < len(line)
        if comment_tail and not parts \
                and not line[seg_start:comment_start].strip():
            continue
        if comment_tail or parts or tail.strip() \
                or st.in_squote or st.in_dollar is not None \
                or st.in_block_comment:
            if parts or tail.strip() or st.in_squote \
                    or st.in_dollar is not None:
                parts.append(tail)
                parts_bytes += len(tail) + 1
    if parts and any(p.strip() for p in parts):
        yield ("stmt", "\n".join(parts), stmt_start, r.base + r.pos)
    yield ("end", r.base + r.pos, True)


@dataclass
class CopyChunk:
    """One line-aligned byte range of a COPY data block = one Spark
    task in the distributed reader."""
    path: str
    start: int
    end: int
    rows: int
    start_seq: int
    reorder: Optional[list[int]]   # schema-ordered source index, -1=NULL


# ---------------------------------------------------------------------------
# distributed statement-boundary scan (VERDICT r7 ask 1)
# ---------------------------------------------------------------------------
#
# The last serial O(dump-bytes) ingest component was the driver's
# statement-boundary token walk.  It is now byte-range split: the file
# is cut into ~chunk_bytes ranges at arbitrary offsets; each executor
# aligns to the first line start in its range and runs the SHARED
# token-walk scanner SPECULATIVELY from a neutral lexer state,
# emitting statement-run SPANS and COPY block ranges with absolute
# byte offsets.  A speculative parse is exact whenever the true lexer
# state at its aligned start is clean (between statements, nothing
# open) — always the case for machine-generated dumps except when a
# multi-line string literal, dollar-quote, block comment, or COPY
# data block happens to cross the range boundary.  The driver
# RECONCILES the per-range results with a trusted cursor: a range's
# events are accepted when the cursor (a byte offset proven clean by
# the trusted parse so far) coincides with the range's aligned start
# or one of its own event boundaries (then both lexers provably agree
# from that offset on); otherwise the affected range is rescanned
# serially from the cursor with the exact scanner — rare, bounded to
# one range per boundary-crossing construct.  This is the same
# overlap-window / first-boundary-after-offset resolution the COPY
# chunk reader uses, applied to the SQL statement stream itself.

# speculative ranges abort a runaway in-flight statement this far past
# their limit (a range starting inside COPY data would otherwise
# token-walk and accumulate the rest of the block — up to the whole
# file — as statement text, turning the parallel scan quadratic on
# COPY-heavy dumps); real statements are almost always far smaller,
# and the rare larger one is recovered exactly by the reconciliation
# rescan
_SPEC_HARD_ALLOWANCE = 1 << 20

# accumulated statement text past which a SPECULATIVE parse stops
# token-walking and bulk-finds the next candidate COPY terminator
# (almost certainly mid-data; a wrong guess is caught by the
# reconciliation cursor match)
_SPEC_SKIP_BYTES = 64 << 10

# VERDICT r8 ask 6: the byte-accumulation trigger above never fires
# when mid-COPY data CONTAINS semicolons — every ';' yields a fake
# "statement" and resets the accumulator, so such ranges token-walked
# their whole slice at ~5 MB/s (measured; clean data find-skips at
# ~600 MB/s).  A speculative parse that yields this many CONSECUTIVE
# statements not starting with a known SQL verb is almost certainly
# walking COPY data — engage the same bulk terminator find.  Real
# dump statements always start with a verb; an exotic run of
# unrecognized-but-real statements only costs a reconciliation rescan
# of that range (correctness is the cursor match either way).
_SPEC_BOGUS_RUN = 4          # consecutive-miss fast trigger
_SPEC_BOGUS_WINDOW = 8       # ratio trigger: >=half bogus of this many
_SQL_VERBS = frozenset((
    "alter", "analyze", "begin", "call", "cluster", "comment",
    "commit", "copy", "create", "deallocate", "declare", "delete",
    "do", "drop", "execute", "explain", "grant", "import", "insert",
    "lock", "merge", "prepare", "refresh", "reindex", "replace",
    "reset", "revoke", "rollback", "security", "select", "set",
    "show", "start", "truncate", "update", "vacuum", "values",
    "with"))


def _stmt_is_bogus(text: str) -> bool:
    """True when a yielded statement cannot plausibly be SQL (its
    first word is not a statement verb) — the COPY-data-with-
    semicolons signature in speculative scans."""
    head = text.lstrip()[:12].split(None, 1)
    return not head or head[0].rstrip(";(").lower() not in _SQL_VERBS

# cap on statement-run span size: the tokenize stage gets one task per
# span, so a single-file statement run must split (at statement
# boundaries) or the serial-scan branch would tokenize a whole dump in
# one task
_MAX_SPAN_BYTES = 8 << 20

# cap on COPY data chunk size (read-task granularity), independent of
# the scan's byte-range size.  Env-overridable (SPARK_GRAFT_DATA_
# CHUNK_MB): the peak-RSS knob for the 128 GiB envelope — each
# concurrent read task stages ~one chunk of decoded rows, so peak
# memory scales ~ cpus x chunk (knob table in SCALE.md, r11)
_DATA_CHUNK_BYTES = int(os.environ.get(
    "SPARK_GRAFT_DATA_CHUNK_MB", "8")) << 20

# smallest byte-range a scan task is worth dispatching for (below it
# the Spark round trip dominates and the driver-side exact scan wins);
# tests shrink it to force many ranges + reconciliation on tiny dumps
_RANGE_FLOOR = 1 << 20

# serial-vs-distributed cutover: dispatching the range-scan Spark job
# costs ~1.5-2.5 s of fixed overhead (job round trips, Arrow setup,
# checkpoint).  Rather than guess a bytes threshold — scan speed is
# mix-dependent (statement token-walk ~25 MB/s, COPY data find-skip
# ~1 GB/s) — the driver TIMES an exact scan of the first ~1 MB and
# extrapolates: below the floor the serial scan finishes before the
# cluster job would even spin up.  Above _DIST_SCAN_FORCE_BYTES the
# job always wins and the probe is skipped (a copy-heavy probe can
# spill through its first data block, so it is only bounded when the
# whole input is modest).
_DIST_MIN_SERIAL_SEC = 2.0
_DIST_SCAN_FORCE_BYTES = 1 << 30

# hysteresis band around the cutover (VERDICT r8 ask 5): the probe's
# extrapolation is noisy (~±30% run-to-run even with the warm-cache
# double pass), so an estimate NEAR the threshold flapped between
# branches across runs of the same dump.  Estimates clearly below
# 0.7x the threshold stay serial and clearly above 1.6x go
# distributed; inside the band the decision falls back to a
# DETERMINISTIC total-bytes rule — same input, same branch, every
# run.  Either branch is within ~1.3x of the other inside the band
# (it brackets the ~2 s fixed Spark-job overhead), so stability costs
# nothing measurable.  The band derives from _DIST_MIN_SERIAL_SEC so
# tests forcing a branch by patching the threshold keep working
# (0.0 collapses the band and everything goes distributed).
_DIST_BAND_LOW = 0.7
_DIST_BAND_HIGH = 1.6
_DIST_AMBIG_BYTES = 64 << 20


def _choose_distributed(est_sec: float, total_bytes: int,
                        min_serial_sec: float) -> bool:
    """Cutover decision with the hysteresis band (see above)."""
    if est_sec < _DIST_BAND_LOW * min_serial_sec:
        return False
    if est_sec >= _DIST_BAND_HIGH * min_serial_sec:
        return True
    return total_bytes >= _DIST_AMBIG_BYTES


def _estimate_serial_scan_sec(paths: list[str], sizes: dict,
                              chunk_bytes: int, scanner=None) -> float:
    """Extrapolated driver-side exact-scan time from timing the first
    ~1 MB of up to three files."""
    import time as _time
    bps = []
    for p in paths[:3]:
        n = min(sizes[p], 1 << 20)
        if n == 0:
            continue
        # two passes, keep the faster: the first pays the page-cache
        # miss, which made the estimate flap around the cutover
        # threshold run-to-run (real scans run warm)
        best = None
        for _ in range(2):
            t0 = _time.perf_counter()
            consumed = n
            try:
                with open(p, "rb") as f:
                    _events, stop, _clean = _collect_scan_events(
                        f, 0, n, chunk_bytes, hard_allowance=0,
                        scanner=scanner)
                    consumed = max(stop, n)
            except (UnicodeDecodeError, ValueError):
                pass
            dt = max(_time.perf_counter() - t0, 1e-6)
            best = max(best or 0.0, consumed / dt)
        bps.append(best)
    if not bps:
        return 0.0
    return sum(sizes.values()) / (sum(bps) / len(bps))


def _is_insert_stmt(text: str) -> bool:
    return text.lstrip()[:6].upper() == "INSERT"


def _collect_scan_events(f, base: int, limit: Optional[int],
                         chunk_bytes: int,
                         hard_allowance: Optional[int] = None,
                         on_stmt=None, sync_marks: Optional[list] = None,
                         scanner=None, is_data=None):
    """Run the token-walk scanner over ``f`` (seeked to absolute
    offset ``base``) and coalesce its yields into offset-only events:
    ``["span", start, end, n_stmts, has_insert]`` for size-capped runs
    of consecutive statements (text is NOT shipped) and ``["copy",
    table, cols, ranges, start, end]`` for COPY blocks.  Returns (events, stop,
    clean): ``stop`` is where the scan ended; ``clean`` False means a
    hard abort left the tail after the last event unverified.

    ``on_stmt(ev, span_start)`` is called for every statement event
    with the enclosing span's start offset — the FUSED hook: a range
    task does its per-statement work (pg: schema events, mysql: INSERT
    tokenization) in the same pass that discovers the boundaries, so
    the dump bytes are read once."""
    hard = None if hard_allowance is None or limit is None \
        else limit + hard_allowance
    events: list = []
    span: Optional[list] = None
    stop, clean = base, True
    scan = scanner or _scan_dump_statements
    data_pred = is_data or _is_insert_stmt
    for ev in scan(f, chunk_bytes, base=base,
                   limit=limit, hard_limit=hard,
                   sync_marks=sync_marks):
        if ev[0] == "stmt":
            _, text, s, e = ev
            is_ins = data_pred(text)
            if span is not None and span[1] <= s \
                    and s - span[1] < _MAX_SPAN_BYTES:
                span[2] = e
                span[3] += 1
                span[4] = span[4] or is_ins
            else:
                # cap span size so the tokenize stage parallelizes
                # even when ONE statement run covers a whole file
                # (serial-scan branch); new spans start at statement
                # starts, which are clean points by construction
                span = ["span", s, e, 1, is_ins]
                events.append(span)
            if on_stmt is not None:
                on_stmt(ev, span[1])
        elif ev[0] in ("copy", "dblock"):
            # dialect-specific block events (pg COPY data blocks,
            # mysql DELIMITER stored-program blocks) break spans and
            # pass through verbatim
            span = None
            events.append(list(ev))
        elif ev[0] == "sync":
            span = None     # post-sync statements start a fresh span:
                            # the trusted cursor must be able to land
                            # exactly on the sync = first span start
        else:                              # ("end", stop, clean)
            stop, clean = ev[1], ev[2]
    return events, stop, clean


def _tokenize_stmt(ev, span_start: int, out: "_SpanRows") -> None:
    """The pg tokenize kernel: one ("stmt", text, start, end) event,
    tokenized exactly as the staged pass would into ``out``: INSERT
    rows become staged-layout TSV via the shared _parse_insert_values;
    unknown tables report; statements with unparsable VALUES or zero
    tuples are skipped and leave no count."""
    s = ev[1].strip()
    if not s.upper().startswith("INSERT"):
        return
    m = _match_insert(s)
    if not m:
        return
    table = _clean_name(m[0])
    if table not in out.schema_cols:
        out.unknown(span_start, ev[2], f"INSERT into unknown table {table}")
        return
    try:
        tuples = _parse_insert_values(m[2])
    except ValueError:
        return          # statement-level skip, staged-pass parity
    cols = [_clean_name(c) for c in m[1].split(",")] if m[1] else None
    out.insert(span_start, table, ev[2], cols, tuples)


def _scan_pg_range(path: str, start: int, end: int,
                   chunk_bytes: int,
                   hard_allowance: Optional[int] = None,
                   on_stmt=None, scanner=None, is_data=None) -> dict:
    """Executor-side speculative scan of one byte range.  Returns a
    JSON-able summary: aligned start (first line start in the range;
    None when the range is the middle of one giant line), events with
    absolute offsets, the stop offset, and whether the scan ended
    clean.  ``on_stmt`` fuses tokenization into the same pass (see
    _collect_scan_events); fused side effects for a range later judged
    invalid are discarded by keying them on (range, span start)."""
    with open(path, "rb") as f:
        if start == 0:
            aligned = 0
        else:
            aligned = None
            f.seek(start - 1)
            off = start - 1
            while off < end:
                chunk = f.read(min(1 << 20, end - off))
                if not chunk:
                    break
                j = chunk.find(b"\n")
                if j >= 0:
                    aligned = off + j + 1
                    break
                off += len(chunk)
        if aligned is None or aligned >= end:
            return {"aligned": None, "events": [], "stop": start,
                    "clean": True, "syncs": []}
        f.seek(aligned)
        if hard_allowance is None:
            hard_allowance = _SPEC_HARD_ALLOWANCE
        syncs: list = []
        try:
            events, stop, clean = _collect_scan_events(
                f, aligned, end, chunk_bytes,
                hard_allowance=hard_allowance, on_stmt=on_stmt,
                sync_marks=syncs, scanner=scanner, is_data=is_data)
        except (UnicodeDecodeError, ValueError):
            # undecodable speculative garbage (e.g. a range starting
            # inside binary-ish COPY data): contribute nothing; the
            # reconciliation rescan covers the segment exactly
            return {"aligned": aligned, "events": [], "stop": aligned,
                    "clean": False, "syncs": []}
    return {"aligned": aligned, "events": events, "stop": stop,
            "clean": clean, "syncs": syncs}


def _rescan_pg_segment(path: str, start: int, limit: Optional[int],
                       chunk_bytes: int, scanner=None, is_data=None,
                       on_stmt=None):
    """Exact serial rescan of [start, first clean point >= limit):
    the reconciliation fallback.  ``start`` must be a clean offset
    (proven by the trusted parse)."""
    with open(path, "rb") as f:
        f.seek(start)
        events, stop, _clean = _collect_scan_events(
            f, start, limit, chunk_bytes, hard_allowance=None,
            scanner=scanner, is_data=is_data, on_stmt=on_stmt)
    return events, stop


def _ev_start(ev) -> int:
    return ev[4] if ev[0] == "copy" else ev[1]


def _ev_end(ev) -> int:
    return ev[5] if ev[0] == "copy" else ev[2]


def _reconcile_pg_scan(path: str, file_size: int, results: list[dict],
                       chunk_bytes: int, scanner=None,
                       is_data=None, on_stmt=None) -> list:
    """Merge per-range speculative scans into the exact event list for
    one file.  ``results`` are in range order; each carries its
    range_start/range_end.  See the module comment above for the
    trusted-cursor argument.  ``on_stmt`` is forwarded to the exact
    rescans only (their events are trusted by construction) — the
    distributed schema pass uses it to recover statement events the
    speculative ranges lost."""
    out: list = []
    cursor = 0
    dirty = False       # segment after `cursor` unverified (hard stop)
    for res in results:
        rng_end = res["range_end"]
        if res["aligned"] is None:
            continue
        evs = [e for e in res["events"] if _ev_start(e) >= cursor]
        if cursor >= rng_end and not evs:
            continue                      # consumed by an earlier spill
        bounds = {res["aligned"]}
        bounds.update(res.get("syncs", ()))
        for e in res["events"]:
            bounds.add(_ev_start(e))
            bounds.add(_ev_end(e))
        if (not dirty and cursor <= res["aligned"]) or cursor in bounds:
            # a sync VALIDATES the parse only up to the NEXT sync: at
            # a sync the speculative parser dropped a '\\.' line that
            # a true parser (outside copy data) would have kept as
            # statement text, so events past an unvalidated sync are
            # not provably true.  cursor == sync proves THAT sync was
            # a real block end; acceptance caps at the first sync
            # STRICTLY after the cursor and the remainder rescans
            # exactly (never triggered by machine-generated dumps —
            # their terminators are consumed inside properly-parsed
            # copy events and produce no sync marks).
            cap = min((s for s in res.get("syncs", ())
                       if s > cursor), default=None)
            if cap is not None:
                evs = [e for e in evs if _ev_end(e) <= cap]
            out.extend(evs)
            if evs:
                cursor = max(cursor, _ev_end(evs[-1]))
            if cap is not None:
                ev2, stop2 = _rescan_pg_segment(
                    path, cursor, rng_end, chunk_bytes, scanner,
                    is_data, on_stmt)
                out.extend(ev2)
                cursor = max(cursor, stop2)
                dirty = False
            elif res["clean"]:
                cursor = max(cursor, res["stop"])
                dirty = False
            else:
                dirty = True
        else:
            ev2, stop2 = _rescan_pg_segment(path, cursor, rng_end,
                                            chunk_bytes, scanner,
                                            is_data, on_stmt)
            out.extend(ev2)
            cursor = max(cursor, stop2)
            dirty = False
    if cursor < file_size:
        ev2, _stop2 = _rescan_pg_segment(path, cursor, None,
                                         chunk_bytes, scanner,
                                         is_data, on_stmt)
        out.extend(ev2)
    return out


def _plan_ranges(spark: SparkSession, paths: list[str], chunk_bytes: int,
                 scanner=None) -> tuple[dict, list, bool]:
    """The byte-range plan of a distributed dump scan and its cutover.
    Returns (sizes, descs, serial): ``descs`` are (path, range_idx,
    start, end) ranges of ~total/parallelism bytes, at least
    _RANGE_FLOOR and at most ``chunk_bytes``; ``serial`` picks the
    driver-side exact scan instead (one range only, or a timed probe
    below the cutover, see _choose_distributed)."""
    sizes = {p: os.path.getsize(p) for p in paths}
    total = sum(sizes.values())
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    range_bytes = max(_RANGE_FLOOR,
                      min(chunk_bytes, math.ceil(total / par) or 1))
    descs = [(p, ri, s, min(s + range_bytes, sizes[p]))
             for p in paths
             for ri, s in enumerate(range(0, sizes[p], range_bytes))]
    serial = len(descs) <= 1
    if not serial and total < _DIST_SCAN_FORCE_BYTES:
        serial = not _choose_distributed(
            _estimate_serial_scan_sec(paths, sizes, chunk_bytes, scanner),
            total, _DIST_MIN_SERIAL_SEC)
    return sizes, descs, serial


def _scan_serial(paths: list[str], chunk_bytes: int, scanner=None,
                 is_data=None, on_stmt_for=None) -> dict:
    """The serial-cutover branch: one exact driver-side scan per file.
    Returns {path: events}, every span tagged with range 0 (ev[5]).
    ``on_stmt_for(path)`` gives the on_stmt hook of that file's scan."""
    file_events: dict[str, list] = {}
    for p in paths:
        with open(p, "rb") as f:
            events, _stop, _clean = _collect_scan_events(
                f, 0, None, chunk_bytes, hard_allowance=None,
                on_stmt=on_stmt_for(p) if on_stmt_for else None,
                scanner=scanner, is_data=is_data)
        for ev in events:
            if ev[0] == "span":
                ev.append(0)
        file_events[p] = events
    return file_events


def _range_scan_job(spark: SparkSession, descs: list, chunk_bytes: int,
                    range_kernel, scanner=None,
                    is_data=None) -> DataFrame:
    """The byte-range scan as one mapInPandas task per range (``descs``
    from _plan_ranges).  Each task runs the speculative _scan_pg_range
    with the hooks of ``range_kernel(rows, path, range_idx)`` ->
    (on_stmt, flush): on_stmt FUSES the dialect's per-statement work
    into the scan, flush() runs once the range is scanned.  The task
    then appends the range's summary row (kind 's': off carries the
    range index, payload the JSON summary).  The caller picks the
    action."""

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows: list[tuple] = []
            for rec in pdf.itertuples(index=False):
                on_stmt, flush = range_kernel(rows, rec.path, rec.ri)
                res = _scan_pg_range(rec.path, rec.start, rec.end,
                                     chunk_bytes, on_stmt=on_stmt,
                                     scanner=scanner, is_data=is_data)
                res["range_end"] = rec.end
                flush()
                rows.append((rec.path, rec.ri, rec.start, "", 0,
                             rec.ri, "s", json.dumps(res)))
            yield pd.DataFrame(rows, columns=_PARSED_COLS)

    return descriptor_frame(
        spark, descs, "path string, ri long, start long, end long") \
        .mapInPandas(gen, _PARSED_SCHEMA)


def _reconcile_ranges(paths: list[str], sizes: dict, summaries: dict,
                      chunk_bytes: int, scanner=None, is_data=None,
                      on_stmt_for=None) -> tuple[dict, set, list]:
    """Reconcile the range job's summaries ({(path, range_idx): json})
    file by file, in path order: each range's spans are tagged with
    its index (ev[5]) and _reconcile_pg_scan merges the ranges; a span
    only its exact rescans found gets a negative tag of its own.
    Returns (file_events, accepted, rescans): ``accepted`` holds the
    (path, range_idx, span_start) keys whose fused output stands,
    ``rescans`` the (path, tag, start, end) of rescan spans that hold
    a data statement.  ``on_stmt_for(path)`` gives the on_stmt hook of
    one file's rescans."""
    file_events: dict[str, list] = {}
    accepted: set[tuple] = set()
    rescans: list[tuple] = []
    tag = -1
    for p in paths:
        results = []
        for ri in sorted(ri for q, ri in summaries if q == p):
            res = json.loads(summaries[(p, ri)])
            for ev in res["events"]:
                if ev[0] == "span":
                    ev.append(ri)
            results.append(res)
        events = _reconcile_pg_scan(
            p, sizes[p], results, chunk_bytes, scanner, is_data,
            on_stmt_for(p) if on_stmt_for else None)
        for ev in events:
            if ev[0] != "span":
                continue
            if len(ev) >= 6:
                accepted.add((p, ev[5], ev[1]))
            else:
                ev.append(tag)
                if ev[4]:
                    rescans.append((p, tag, ev[1], ev[2]))
                tag -= 1
        file_events[p] = events
    return file_events, accepted, rescans


def _data_spans(paths: list[str], file_events: dict) -> list[tuple]:
    """(path, rng, start, end) of every span holding a data statement."""
    return [(p, ev[5], ev[1], ev[2]) for p in paths
            for ev in file_events[p] if ev[0] == "span" and ev[4]]


class _SpanRows:
    """What one tokenize task emits into the parsed relation
    (_PARSED_SCHEMA), keyed (path, rng, span_start, table): data rows
    in staged layout (kind 'r', ordinal = the row's index within its
    span and table) and unknown-table messages ('u') as the kernel
    goes; at flush() the per-(span, table) counts ('c': ordinal
    carries n, off the first counted statement's offset) and recovery
    counters ('m': reparsed, unparsable; mysql only).  Counting
    executor-side keeps the driver at O(spans x tables) rows."""

    def __init__(self, rows: list, path: str, rng: int,
                 schema_cols: dict) -> None:
        self.rows, self.path, self.rng = rows, path, rng
        self.schema_cols = schema_cols
        self.counts: dict[tuple, list] = {}
        self.recovery: dict[tuple, list] = {}

    def unknown(self, span_start: int, off: int, msg: str) -> None:
        self.rows.append((self.path, self.rng, span_start, "", 0, off,
                          "u", msg))

    def count(self, span_start: int, table: str, off: int,
              n: int = 0) -> None:
        """Count ``n`` rows that stage no data; n=0 marks presence."""
        self.counts.setdefault((span_start, table), [0, off])[0] += n

    def insert(self, span_start: int, table: str, off: int,
               cols: Optional[list], tuples: list) -> None:
        """Stage one INSERT's tuples in schema column order; ``cols``
        None means the INSERT named no columns."""
        if not tuples:
            return
        schema_cols = self.schema_cols[table]
        if cols is None:
            cols = schema_cols
        c = self.counts.setdefault((span_start, table), [0, off])
        for vals in tuples:
            by_col = dict(zip(cols, vals))
            self.rows.append((
                self.path, self.rng, span_start, table, c[0], off, "r",
                "\t".join(StagingWriter.copy_escape(by_col.get(cn))
                          for cn in schema_cols)))
            c[0] += 1

    def recovered(self, span_start: int, table: str, reparsed: int,
                  unparsable: int) -> None:
        if reparsed or unparsable:
            r = self.recovery.setdefault((span_start, table), [0, 0])
            r[0] += reparsed
            r[1] += unparsable

    def flush(self) -> None:
        for (ss, t), (n, first) in self.counts.items():
            self.rows.append((self.path, self.rng, ss, t, n, first,
                              "c", ""))
        for (ss, t), (rp, un) in self.recovery.items():
            self.rows.append((self.path, self.rng, ss, t, rp, un,
                              "m", ""))
        self.counts, self.recovery = {}, {}


def _tokenizer(ctx: MigrationContext, kernel):
    """The range kernel (see _range_scan_job) that feeds each statement
    to the dialect's tokenize ``kernel(ev, span_start, out)`` through a
    _SpanRows emitter."""
    schema_cols = {t: list(st.col_names) for t, st in ctx.src_schema.items()}

    def start(rows: list, path: str, rng: int):
        out = _SpanRows(rows, path, rng, schema_cols)
        return (lambda ev, span_start: kernel(ev, span_start, out)), \
            out.flush

    return start


def _tokenize_spans(spark: SparkSession, ctx: MigrationContext,
                    span_rows: list, kernel, scanner=None):
    """Executor-side tokenization of statement-run spans for the
    NON-FUSED cases (serial-cutover timelines and reconciliation
    rescans): mapInPandas re-reads each span's byte range from the
    dump file, re-runs the dialect's token-walk ``scanner`` (span
    starts are proven clean points, so the re-parse is exact) and
    feeds each statement to its tokenize ``kernel`` (_tokenizer).
    Rows are keyed (path, rng, span_start, table, ordinal), the key
    space of the fused range scan, so both union into one relation.

    ``span_rows``: [(path, rng, start, end)].  Returns (parsed_df,
    counts, unknowns, recovery) as _collect_span_meta does; no spans
    give (None, {}, [], {})."""
    import io as _io

    if not span_rows:
        return None, {}, [], {}
    start = _tokenizer(ctx, kernel)
    scan = scanner or _scan_dump_statements

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows: list[tuple] = []
            for rec in pdf.itertuples(index=False):
                with open(rec.path, "rb") as fh:
                    fh.seek(rec.start)
                    data = fh.read(rec.end - rec.start)
                on_stmt, flush = start(rows, rec.path, rec.rng)
                for ev in scan(_io.BytesIO(data), base=rec.start):
                    if ev[0] == "stmt":
                        on_stmt(ev, rec.start)
                flush()
            yield pd.DataFrame(rows, columns=_PARSED_COLS)

    # one task per span: span size (~chunk_bytes), not span count, is
    # the unit of work
    desc = descriptor_frame(
        spark, span_rows, "path string, rng long, start long, end long")
    parsed = desc.mapInPandas(gen, _PARSED_SCHEMA).localCheckpoint()
    counts, unknowns, recovery, _summaries = _collect_span_meta(parsed)
    return parsed, counts, unknowns, recovery


_PARSED_SCHEMA = ("path string, rng long, span_start long, "
                  "table string, ordinal long, off long, "
                  "kind string, payload string")
_PARSED_COLS = ["path", "rng", "span_start", "table", "ordinal", "off",
                "kind", "payload"]


def _collect_span_meta(parsed: DataFrame):
    """Pull the executor-emitted metadata rows off a parsed relation
    in ONE job (see _SpanRows): counts {(path, rng, span_start,
    table): (n_rows, first_off)}, unknowns [(path, rng, span_start,
    off, msg)], recovery {(path, rng, span_start, table): (reparsed,
    unparsable)} and range summaries {(path, range_idx): json} (fused
    scan only).  O(ranges + spans x tables + unknowns) driver rows,
    never per-statement."""
    counts: dict = {}
    unknowns: list = []
    recovery: dict = {}
    summaries: dict = {}
    for r in parsed.where("kind != 'r'").collect():
        key = (r.path, r.rng, r.span_start, r.table)
        if r.kind == "c":
            counts[key] = (r.ordinal, r.off)
        elif r.kind == "u":
            unknowns.append(
                (r.path, r.rng, r.span_start, r.off, r.payload))
        elif r.kind == "m":
            recovery[key] = (r.ordinal, r.off)
        else:                               # 's'
            summaries[(r.path, r.off)] = r.payload
    return counts, unknowns, recovery, summaries


def read_copy_chunks(spark: SparkSession, ctx: MigrationContext,
                     src_table: str,
                     chunks: list[CopyChunk]) -> DataFrame:
    """Distributed COPY-block reader: each byte-range chunk is one
    Spark task; the executor seeks into the dump file, reads its
    slice, prefixes each row with its global sequence number (and
    re-maps columns for blocks whose COPY column list differs from
    schema order), and the shared staged-value decoder projects typed
    columns.  The driver never touches a data row.

    This is SURVEY S1/S3's mapping of processCopyBlock
    (/root/reference/postgres/pgdump.go:122-152) onto Spark tasks."""
    rows = [(c.path, c.start, c.end, c.rows, c.start_seq, c.reorder)
            for c in chunks]
    # one task per chunk: chunk size (not row count) is the unit of
    # work
    desc = descriptor_frame(
        spark, rows, "path string, start long, end long, rows long, "
                     "start_seq long, reorder array<int>")

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                with open(rec.path, "rb") as fh:
                    fh.seek(rec.start)
                    data = fh.read(rec.end - rec.start)
                if data.endswith(b"\n"):
                    data = data[:-1]
                if not data:
                    continue
                reorder = None if rec.reorder is None \
                    else [int(k) for k in rec.reorder]
                # C-speed common path: one decode + one split; the
                # old per-row f-string seq prefix (re-parsed JVM-side)
                # is replaced by a native long column
                lines = data.decode("utf-8").split("\n")
                if b"\r" in data:
                    lines = [s[:-1] if s.endswith("\r") else s
                             for s in lines]
                if reorder is not None:
                    fixed = []
                    for s in lines:
                        vals = s.split("\t")
                        fixed.append("\t".join(
                            vals[k] if 0 <= k < len(vals) else "\\N"
                            for k in reorder))
                    lines = fixed
                if len(lines) != rec.rows:
                    raise ValueError(
                        f"chunk row mismatch for {rec.path}"
                        f"[{rec.start}:{rec.end}]: scanned {rec.rows}, "
                        f"read {len(lines)}")
                yield pd.DataFrame({
                    "seq": np.arange(rec.start_seq,
                                     rec.start_seq + len(lines),
                                     dtype=np.int64),
                    "line": lines})

    values = desc.mapInPandas(gen, schema="seq long, line string")
    return _decode_staged_values(values, ctx, src_table)


def stage_stream(stream: TextIO, staging_dir: str,
                 name: str = "dump.sql") -> str:
    """S26 (getSeekable, conversion/conversion.go:378-406): the dump is
    read twice (schema pass + data pass), so a non-seekable stream
    (stdin, a network pipe) is spooled to a staging file once and both
    passes read that path. Streams through in 1 MB chunks — constant
    memory for arbitrarily large dumps."""
    os.makedirs(staging_dir, exist_ok=True)
    path = os.path.join(staging_dir, name)
    with open(path, "w", encoding="utf-8") as out:
        while True:
            chunk = stream.read(1 << 20)
            if not chunk:
                break
            out.write(chunk)
    return path


# ---------------------------------------------------------------------------
# top-level driver (entry point 1, SURVEY §3.1)
# ---------------------------------------------------------------------------

def migrate_pg_dump(spark: SparkSession, dump_path: Union[str, list[str]],
                    staging_dir: str,
                    ctx: Optional[MigrationContext] = None,
                    mode: str = "staged",
                    chunk_bytes: int = 32 << 20,
                    ) -> tuple[MigrationContext, dict[str, ConversionResult]]:
    """Full pg_dump migration: schema pass + data pass + typed
    conversion with bad-row split. Returns (ctx, {src_table: result}).

    ``mode``:

    - ``"staged"`` — the reference-parity path: one driver loop splits
      COPY/INSERT rows to per-table staging TSVs, Spark reads those
      distributed.  Per-row driver cost; right for small dumps.
    - ``"distributed"`` — the scale path: the schema pass scans the
      dump as byte-range Spark tasks (below the cutover, one exact
      driver scan per file) and hands its reconciled event timelines
      to the data pass.  Executors read COPY blocks as byte-range
      chunks straight from the dump file(s) and tokenize the INSERT
      spans; sequence numbers compose in path order, so results are
      bit-identical to ``"staged"``.

    The caller writes results via sink/ (e.g. parquet per table).
    """
    if mode not in ("staged", "distributed"):
        raise ValueError(f"unknown ingest mode {mode!r}")
    if ctx is None:
        ctx = MigrationContext()
    paths = [dump_path] if isinstance(dump_path, str) else list(dump_path)

    if mode == "distributed":
        # pass 1 runs as byte-range Spark tasks (compact schema
        # events, driver replay in byte order) and hands its
        # reconciled event timelines to the data pass — the driver
        # never walks dump bytes, even on interleaved DDL/data dumps,
        # and the files are never boundary-scanned twice
        file_events = process_pg_dump_schema_distributed(
            spark, ctx, paths, chunk_bytes)
        schema_to_ddl(ctx, "postgres")
        ctx.add_synthetic_pkeys()
        ctx.set_data_mode()
        return ctx, _migrate_distributed(spark, ctx, paths, staging_dir,
                                         file_events)

    # staged pass 1 is serial per file (the reference-parity path):
    # DDL statements are tiny and must apply in dump order (ALTERs may
    # follow CREATEs across files)
    for p in paths:
        with open(p, encoding="utf-8", newline="\n") as f:
            process_pg_dump_schema(ctx, f)
    schema_to_ddl(ctx, "postgres")
    ctx.add_synthetic_pkeys()
    ctx.set_data_mode()

    # one writer across all dump files: appends + continuous per-table
    # sequence (sharded dumps put one table's rows in several files)
    writer = StagingWriter(staging_dir)
    try:
        for p in paths:
            with open(p, encoding="utf-8", newline="\n") as f:
                stage_pg_dump_data(ctx, f, staging_dir, writer=writer)
    finally:
        writer.close()
    staged = dict(writer.paths)

    # each plan is built by whichever thread first touches the result
    # (ConversionResult.deferred); this loop keeps the ctx writes
    results: dict[str, ConversionResult] = {}
    for src_table, path in staged.items():
        if src_table not in ctx.src_schema:
            ctx.unexpected(f"data for unknown table {src_table}")
            continue
        sizes = text_sizes(path)
        results[src_table] = ConversionResult.deferred(
            lambda t=src_table, p=path: convert_table(
                ctx, read_staged_table(spark, ctx, t, p), t, "postgres"),
            splits=file_splits(spark, sizes), input_bytes=sum(sizes))
    return ctx, results


def _schema_range_kernel(rows: list, path: str, ri: int):
    """The range kernel of the distributed schema pass (see
    _range_scan_job): DDL ('D') and unparsable-INSERT ('X') events
    ship whole at their offsets; INSERT stats ('I'), skip kinds ('K')
    and shape errors ('E') pre-aggregate per span, emitted at flush,
    so the driver collects O(DDL + spans x kinds + ranges) rows,
    never O(statements)."""
    aggs: dict[tuple, list] = {}

    def on_stmt(ev, span_start):
        c = _schema_stmt_event(ev[1])
        k = c[0]
        if k in ("D", "X"):
            rows.append((path, ri, span_start, "", 0, ev[2], k, c[1]))
        elif k == "I":
            a = aggs.setdefault((span_start, "I", c[1]), [0, 0])
            a[0] += c[2]
            a[1] += c[3]
        elif k == "K":
            aggs.setdefault((span_start, "K", c[1]), [0, 0])[0] += c[2]
        else:                                       # "E"
            aggs.setdefault((span_start, "E", ""), [0, 0])[0] += c[1]

    def flush():
        for (ss, kind, word), (n, m) in aggs.items():
            rows.append((path, ri, ss, word, n, m, kind, ""))

    return on_stmt, flush


def process_pg_dump_schema_distributed(spark: SparkSession,
                                       ctx: MigrationContext,
                                       paths: list[str],
                                       chunk_bytes: int = 32 << 20,
                                       ) -> dict[str, list]:
    """Distributed pass 1: schema discovery with ZERO O(dump-bytes)
    driver work, correct for INTERLEAVED DDL/data dumps (the 100-TB
    worst case a hand-assembled dump hits; real pg_dump puts DDL in a
    prefix but nothing guarantees it).

    The byte-range speculative scan (_range_scan_job +
    _reconcile_ranges, the reader the mysql data pass shares) runs
    once as a Spark job; each range task reduces every statement it
    finds to a COMPACT schema event via the shared _schema_stmt_event
    kernel (_schema_range_kernel), and the driver replays the
    reconciled per-file event timeline in byte order through the same
    switch the serial pass uses, so results are bit-identical:
    ordering matters only for ctx.location (last-valid-SET-wins) and
    the capped unexpected log, both preserved by the offset sort; all
    other effects are order-free counter sums.  Speculative events of
    ranges the reconciliation rejects are dropped by (path, range,
    span) key; reconciliation rescans re-capture their statements
    through the forwarded on_stmt.

    Returns the reconciled per-file event timelines (spans tagged
    with their owning range) for _migrate_distributed to REUSE — the
    dump is never boundary-scanned twice.

    Small inputs take the serial-cutover branch: ONE driver walk
    produces both the schema events and the data-pass timeline."""
    ctx.set_schema_mode()
    sizes, descs, serial = _plan_ranges(spark, paths, chunk_bytes)
    # (offset, compact event) per file: every statement of an exact
    # scan (the serial walk or the reconciliation rescans), then the
    # file's COPY blocks and accepted range spans
    items: dict[str, list] = {p: [] for p in paths}

    def on_stmt_for(p):
        return lambda ev, _span_start: items[p].append(
            (ev[2], _schema_stmt_event(ev[1])))

    span_items: dict[tuple, list] = {}
    if serial:
        file_events = _scan_serial(paths, chunk_bytes,
                                   on_stmt_for=on_stmt_for)
    else:
        # every row is metadata (no data rows), so a straight collect
        # is O(DDL + spans x kinds + ranges) driver memory
        summaries: dict[tuple, str] = {}
        for r in _range_scan_job(spark, descs, chunk_bytes,
                                 _schema_range_kernel).collect():
            if r.kind == "s":
                summaries[(r.path, r.off)] = r.payload
                continue
            if r.kind in ("D", "X"):
                item = (r.off, (r.kind, r.payload))
            elif r.kind == "I":
                item = (r.span_start, ("I", r.table, r.ordinal, r.off))
            elif r.kind == "K":
                item = (r.span_start, ("K", r.table, r.ordinal))
            else:                                   # "E"
                item = (r.span_start, ("E", r.ordinal))
            span_items.setdefault((r.path, r.rng, r.span_start),
                                  []).append(item)
        file_events, _accepted, _rescans = _reconcile_ranges(
            paths, sizes, summaries, chunk_bytes, on_stmt_for=on_stmt_for)

    for p in paths:
        file_items = items[p]
        for ev in file_events[p]:
            if ev[0] == "copy":
                file_items.append(
                    (ev[4], ("C", ev[1], sum(n for _s, _e, n in ev[3]))))
            elif ev[0] == "span":
                file_items.extend(span_items.get((p, ev[5], ev[1]), ()))
        file_items.sort(key=lambda it: it[0])
        _replay_schema_events(ctx, (c for _off, c in file_items))
    return file_events


def _write_sequenced_values(spark: SparkSession, parsed: DataFrame,
                            span_bases: dict, tables: list[str],
                            staging_dir: str) -> dict[str, str]:
    """Materialize each table's sequenced span rows as staged-layout
    text (an EXECUTOR-side write — the driver never sees a row)
    instead of converting on top of the live join: the conversion's
    ~7 expression trees over split(value) each re-evaluate the join
    projection, measured 2.9x slower end-to-end than scanning a
    materialized text source — and every downstream action (good/bad
    counts, sink writes) rescans cheap text instead of re-running the
    join.  Per-table write jobs are SUBMITTED CONCURRENTLY: each is a
    small scheduler-latency-bound Spark job, so a serial loop would
    pay T sequential round trips on wide-schema dumps."""

    def write_one(t: str) -> str:
        base_df = spark.createDataFrame(
            sorted(span_bases[t]),
            "path string, rng long, span_start long, base long")
        values = (parsed
                  .where(F.col("kind") == "r")
                  .where(F.col("table") == t)
                  .join(F.broadcast(base_df),
                        ["path", "rng", "span_start"])
                  .select(F.concat_ws(
                      "\t",
                      (F.col("base") + F.col("ordinal"))
                      .cast("string"),
                      F.col("payload")).alias("value")))
        txt = os.path.join(staging_dir, f"{t}.dist_values.txt")
        values.write.mode("overwrite").text(txt)
        return txt

    if not tables:
        return {}
    if len(tables) == 1:
        return {tables[0]: write_one(tables[0])}
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(len(tables), 8)) as pool:
        futs = {t: pool.submit(write_one, t) for t in tables}
    return {t: f.result() for t, f in futs.items()}


def _sequence_spans(spark: SparkSession, ctx: MigrationContext,
                    paths: list[str], file_events: dict,
                    parsed: Optional[DataFrame], counts: dict,
                    unknowns: list, staging_dir: str):
    """The sequence walk of both distributed data passes: the global
    timeline (files in path order, events in file order) hands out
    each table's sequence numbers exactly as the staged writer would.
    It branches on event kind: a COPY block (pg) becomes sequenced
    CopyChunks, a DELIMITER block (mysql) replays its skip count, and
    a span replays its unknown-table messages, then takes each
    table's rows at the next sequences, tables in order of their
    first statement in the span.  A table enters ``order`` at its
    first row-yielding event, when the staged writer would have
    opened its TSV; a count of 0 is a presence marker (mysql: a table
    whose INSERTs all parsed empty) and only enters ``present``.  The
    tokenized rows are then written as sequenced text.

    Returns (order, seqs, present, chunks, txt_paths): chunks =
    {table: [CopyChunk]}, txt_paths as _write_sequenced_values."""
    os.makedirs(staging_dir, exist_ok=True)
    unknowns_by_span: dict[tuple, list] = {}
    for p_, rng_, ss_, off_, msg_ in unknowns:
        unknowns_by_span.setdefault((p_, rng_, ss_), []).append(
            (off_, msg_))
    counts_by_span: dict[tuple, list] = {}
    for (p_, rng_, ss_, t_), (n_, first_) in counts.items():
        counts_by_span.setdefault((p_, rng_, ss_), []).append(
            (t_, n_, first_))

    order: list[str] = []
    seqs: dict[str, int] = {}
    present: list[str] = []
    chunks: dict[str, list[CopyChunk]] = {}
    # t -> [(path, rng, span_start, base_seq)]
    span_bases: dict[str, list[tuple]] = {}

    def touch(table: str) -> None:
        if table not in seqs:
            seqs[table] = 0
            order.append(table)

    for p in paths:
        for ev in file_events[p]:
            if ev[0] == "copy":
                _, table, cols, ranges, _s, _e = ev
                if not ranges:
                    continue          # empty block: no data staged
                schema_table = ctx.src_schema.get(table)
                schema_cols = list(schema_table.col_names) \
                    if schema_table else []
                if not cols or not schema_table \
                        or cols == schema_cols:
                    reorder = None
                else:
                    idx = {c: i for i, c in enumerate(cols)}
                    reorder = [idx.get(c, -1) for c in schema_cols]
                touch(table)
                for (s, e, n) in ranges:
                    chunks.setdefault(table, []).append(
                        CopyChunk(p, s, e, n, seqs[table], reorder))
                    seqs[table] += n
            elif ev[0] == "dblock":
                for _ in range(ev[3]):
                    ctx.skip_statement("DelimiterStmt")
            else:                                   # "span"
                key = (p, ev[5], ev[1])
                for _off, msg in sorted(unknowns_by_span.get(key, [])):
                    ctx.unexpected(msg)
                span_tables = sorted(counts_by_span.get(key, []),
                                     key=lambda x: x[2])
                for t, n, _first in span_tables:
                    if t not in present:
                        present.append(t)
                    if n == 0:
                        continue
                    touch(t)
                    span_bases.setdefault(t, []).append(
                        (key[0], key[1], key[2], seqs[t]))
                    seqs[t] += n

    txt_paths = _write_sequenced_values(
        spark, parsed, span_bases,
        [t for t in order if t in span_bases and t in ctx.src_schema],
        staging_dir)
    return order, seqs, present, chunks, txt_paths


def _migrate_distributed(spark: SparkSession, ctx: MigrationContext,
                         paths: list[str], staging_dir: str,
                         file_events: dict[str, list],
                         ) -> dict[str, ConversionResult]:
    """Distributed data pass, serial-driver-free end to end:

    1. ``file_events`` are the reconciled per-file event timelines the
       distributed SCHEMA pass already produced (byte-range Spark
       tasks + driver reconciliation) — the driver never walks dump
       bytes and the boundary scan never re-runs;
    2. INSERT tokenization re-reads only the statement-run spans
       (executor tasks over proven-clean byte ranges, _tokenize_spans
       with the _tokenize_stmt kernel) — schema column order is known
       by now, so rows come out in staged layout; the driver sees
       per-(span, table) counts, O(spans), never per-statement data;
    3. the sequence walk (_sequence_spans) interleaves COPY chunks and
       INSERT tuples into exactly the sequences the staged pass would
       have written — results are bit-identical to ``"staged"`` (the
       differential suite pins this)."""
    parsed, counts, unknowns, _recovery = _tokenize_spans(
        spark, ctx, _data_spans(paths, file_events), _tokenize_stmt)
    order, _seqs, _present, all_chunks, txt_paths = _sequence_spans(
        spark, ctx, paths, file_events, parsed, counts, unknowns,
        staging_dir)

    def build(t: str) -> ConversionResult:
        dfs: list[DataFrame] = []
        if t in all_chunks:
            dfs.append(read_copy_chunks(spark, ctx, t, all_chunks[t]))
        if t in txt_paths:
            dfs.append(_decode_staged_values(
                spark.read.text(txt_paths[t]), ctx, t))
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        return convert_table(ctx, df, t, "postgres")

    results: dict[str, ConversionResult] = {}
    for t in order:
        if t not in ctx.src_schema:
            ctx.unexpected(f"data for unknown table {t}")
            continue
        if t not in all_chunks and t not in txt_paths:
            continue
        # one task per byte-range chunk, plus the sequenced values' splits
        chunks = all_chunks.get(t, [])
        sizes = text_sizes(txt_paths[t]) if t in txt_paths else []
        results[t] = ConversionResult.deferred(
            lambda t=t: build(t),
            splits=len(chunks) + file_splits(spark, sizes),
            input_bytes=sum(c.end - c.start for c in chunks) + sum(sizes))
    return results
