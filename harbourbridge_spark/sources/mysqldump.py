"""mysqldump stream source (S11-S13 in SURVEY §2.1).

Same two-pass protocol as pgdump.py, mirroring ProcessMySQLDump
(/root/reference/mysql/mysqldump.go:57-155):

- statement chunker aware of MySQL quoting (backslash escapes AND ''
  doubling inside strings, backticked identifiers) and of conditional
  comments ``/*!40103 SET ... */`` whose content is real SQL (the
  TIME_ZONE capture lives inside one);
- error recovery (S12, mysql/mysqldump.go:534-645): (a) stored
  programs / triggers / DELIMITER blocks are skipped; (b) an extended
  INSERT whose value list fails to parse is re-split into per-row
  tuples and each parsed alone (counted in ctx.reparsed); (c) spatial
  column types are rewritten to ``text`` and SPATIAL keys dropped;
- data pass stages INSERT rows into per-table TSVs with a sequence
  column; Spark reads them distributed (read_staged_table).

Scale notes (100 TB): mysqldump's extended INSERTs are bounded by
--max-allowed-packet (~24 MB), so driver-side tokenization is bounded
memory per statement (mysql/mysqldump.go:84-87 relies on the same
bound). For very large migrations, ``mysqldump --tab`` emits per-table
TSV files which can be handed straight to read_staged_table, skipping
the driver tokenizer entirely — ingest parallelism then scales with
table/file count and everything else is distributed.
"""

from __future__ import annotations

import os
import re
from typing import Iterator, Optional, TextIO, Union

from pyspark.sql import SparkSession

from .. import schema_ir as ir
from ..context import MigrationContext
from ..convert import ConversionResult, convert_table
from ..scan import descriptor_frame, file_splits, text_sizes
from ..toddl import schema_to_ddl
from ..types import SourceType
from .pgdump import (StagingWriter, _ESC_OR_QUOTE_RE, _OffsetReader,
                     _VALUE_ACTION_RE, _collect_span_meta, _data_spans,
                     _plan_ranges, _range_scan_job, _reconcile_ranges,
                     _scan_serial, _sequence_spans, _tokenize_spans,
                     _tokenizer, read_staged_table)

_COND_COMMENT_RE = re.compile(r"/\*!\d{5}\s+(.*?)\*/", re.DOTALL)
_SPATIAL_TYPES = ("geometry", "point", "linestring", "polygon",
                  "multipoint", "multilinestring", "multipolygon",
                  "geometrycollection")


# ---------------------------------------------------------------------------
# statement chunker (mysql quoting rules)
# ---------------------------------------------------------------------------

# tokens the mysql scanner reacts to in normal state ("-- " needs the
# trailing space to start a comment, matching mysql; '#' comments are
# handled at line level like before)
_MY_TOKEN_RE = re.compile(r"['\"`;]|-- ")

# below this, the exact token scan is cheap enough that the fast-line
# count checks aren't worth their own passes (tests lower it to force
# both paths over the same input; pgdump has its own twin constant)
_FAST_INSERT_MIN_LEN = 4096


class _MyScanState:
    __slots__ = ("in_squote", "in_dquote", "in_backtick")

    def __init__(self) -> None:
        self.in_squote = self.in_dquote = self.in_backtick = False


def _my_find_close(line: str, i: int, q: str, doubling: bool) -> int:
    """Index of the UNESCAPED closing quote ``q`` at/after ``i`` (-1
    if the string runs past end of line). Backslash escapes respected
    via run parity; ``doubling`` additionally treats ``qq`` as a
    literal (mysql: '' doubles, "" does not — parity with the old
    per-char loop)."""
    n = len(line)
    while True:
        j = line.find(q, i)
        if j < 0:
            return -1
        k = j - 1
        while k >= 0 and line[k] == "\\":
            k -= 1
        if (j - 1 - k) % 2:            # odd backslash run: escaped
            i = j + 1
            continue
        if doubling and j + 1 < n and line[j + 1] == q:
            i = j + 2
            continue
        return j


def _my_scan_to_semi(st: _MyScanState, line: str,
                     start: int) -> tuple[int, int]:
    """mysql twin of pgdump._scan_sql_to_semi: advance the quoting
    state to the first top-level ';' via a regex token walk (the
    per-char loop was the mysql schema pass's second-largest cost).
    Returns (semi_index | -1, comment_start | len(line))."""
    i, n = start, len(line)
    while i < n:
        if st.in_squote:
            j = _my_find_close(line, i, "'", True)
            if j < 0:
                return -1, n
            st.in_squote = False
            i = j + 1
        elif st.in_dquote:
            j = _my_find_close(line, i, '"', False)
            if j < 0:
                return -1, n
            st.in_dquote = False
            i = j + 1
        elif st.in_backtick:
            j = line.find("`", i)
            if j < 0:
                return -1, n
            st.in_backtick = False
            i = j + 1
        else:
            m = _MY_TOKEN_RE.search(line, i)
            if not m:
                return -1, n
            tok = m.group(0)
            if tok == "'":
                st.in_squote = True
            elif tok == '"':
                st.in_dquote = True
            elif tok == "`":
                st.in_backtick = True
            elif tok == "-- ":
                return -1, m.start()
            else:                      # ';'
                return m.start(), n
            i = m.end()
    return -1, n


def _iter_statements(stream: TextIO, ctx: MigrationContext) -> Iterator[str]:
    """Yield statements split at every top-level ';' (mid-line splits
    included), honoring MySQL quoting. DELIMITER blocks (stored
    programs) are skipped entirely (S12a). One trailing CR per line is
    stripped (CRLF dumps). Boundary scanning delegates to the regex
    token walk above."""
    parts: list[str] = []
    st = _MyScanState()
    delimiter_mode = False
    for raw in stream:
        line = raw.rstrip("\n")
        if line.endswith("\r"):
            line = line[:-1]
        stripped = line.strip()
        if not parts and not (st.in_squote or st.in_dquote):
            if not stripped or stripped.startswith("--") or stripped.startswith("#"):
                continue
            up = stripped.upper()
            if up.startswith("DELIMITER"):
                # entering (or leaving) a stored-program block; skip until
                # the delimiter is reset to ';'
                delimiter_mode = not up.replace("DELIMITER", "").strip() == ";"
                ctx.skip_statement("DelimiterStmt")
                continue
            if delimiter_mode:
                continue
            # FAST PATH for long extended-INSERT lines (pgdump's r10
            # count-check idea, adapted to MySQL quoting): with no
            # backslash, double quote, or comment opener anywhere,
            # string/backtick regions are delimited purely by their
            # quote chars.  Even backtick count + quote/';'-free
            # BACKTICK interiors + even quote count OUTSIDE backticks
            # + a single ';' as the line's last non-ws char together
            # prove the line is one complete statement: any
            # interleaving that would fool one parity (a backtick
            # inside a string, a quote inside an identifier, an
            # unterminated region hiding the ';') lands a forbidden
            # char in some checked segment and ABSTAINS to the exact
            # scanner — the fast path can decline, never mis-split.
            if (len(line) >= _FAST_INSERT_MIN_LEN
                    and line[:6].upper() == "INSERT"
                    and "\\" not in line and '"' not in line
                    and "-- " not in line
                    and line.count(";") == 1):
                stmt_text = line.rstrip()
                if stmt_text.endswith(";") \
                        and line.count("`") % 2 == 0:
                    segs = line.split("`")
                    if all("'" not in s and ";" not in s
                           for s in segs[1::2]) \
                            and "".join(segs[0::2]).count("'") % 2 == 0:
                        yield stmt_text
                        continue
        seg_start = 0
        comment_start = len(line)
        while True:
            semi, comment_start = _my_scan_to_semi(st, line, seg_start)
            if semi < 0:
                break
            segment = line[seg_start:semi + 1]
            yield "\n".join(parts + [segment]) if parts \
                else segment
            parts = []
            seg_start = semi + 1
        comment_tail = comment_start < len(line)
        tail = line[seg_start:]
        # comment-only residue after a mid-line ';' must not seed the
        # next statement (same INSERT-gate hazard as the pg splitter)
        if comment_tail and not parts \
                and not line[seg_start:comment_start].strip():
            continue
        if comment_tail or parts or tail.strip() \
                or st.in_squote or st.in_dquote:
            if parts or tail.strip() or st.in_squote or st.in_dquote:
                parts.append(tail)
    if parts and any(p.strip() for p in parts):
        yield "\n".join(parts)


def _unwrap_conditional(stmt: str) -> str:
    """Conditional comments carry executable SQL: unwrap them."""
    m = _COND_COMMENT_RE.fullmatch(stmt.strip().rstrip(";").strip())
    if m:
        return m.group(1).strip() + ";"
    return stmt


def _clean(name: str) -> str:
    return name.strip().strip("`").strip('"')


# ---------------------------------------------------------------------------
# CREATE TABLE parsing (S13; option handling mysql/mysqldump.go:446-496)
# ---------------------------------------------------------------------------

_CREATE_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>`[^`]+`|[\w.]+)\s*"
    r"\((?P<body>.*)\)(?P<suffix>[^)]*)$",
    re.IGNORECASE | re.DOTALL)
_FK_RE = re.compile(
    r"^(?:CONSTRAINT\s+(?P<name>`[^`]+`|\w+)\s+)?FOREIGN\s+KEY\s*"
    r"\((?P<cols>[^)]*)\)\s*REFERENCES\s+(?P<ref>`[^`]+`|[\w.]+)\s*"
    r"\((?P<refcols>[^)]*)\)"
    r"(?:\s+ON\s+DELETE\s+(?P<ondelete>CASCADE|RESTRICT|SET\s+NULL|SET\s+DEFAULT|NO\s+ACTION))?"
    r"(?:\s+ON\s+UPDATE\s+(?P<onupdate>CASCADE|RESTRICT|SET\s+NULL|SET\s+DEFAULT|NO\s+ACTION))?",
    re.IGNORECASE)


def _split_body(body: str) -> list[str]:
    parts, depth, cur = [], 0, []
    in_squote = in_backtick = False
    i = 0
    while i < len(body):
        ch = body[i]
        if in_squote:
            cur.append(ch)
            if ch == "\\":
                if i + 1 < len(body):
                    cur.append(body[i + 1])
                    i += 1
            elif ch == "'":
                in_squote = False
        elif in_backtick:
            cur.append(ch)
            if ch == "`":
                in_backtick = False
        elif ch == "'":
            in_squote = True
            cur.append(ch)
        elif ch == "`":
            in_backtick = True
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
        i += 1
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


def _parse_mysql_type(type_text: str, ctx: MigrationContext,
                      table: str, col: str) -> SourceType:
    """Parse 'bigint(20) unsigned', 'decimal(10,2)', 'enum(..)', 'set(..)'.
    Spatial types are rewritten to text (S12c, mysql/mysqldump.go:611-625)."""
    t = type_text.strip()
    m = re.match(r"^(?P<base>[a-zA-Z ]+?)\s*(?:\((?P<mods>[^)]*)\))?"
                 r"(?P<extra>\s+unsigned|\s+zerofill|\s+binary)*\s*$",
                 t, re.IGNORECASE | re.DOTALL)
    if not m:
        return SourceType(t.lower())
    base = m.group("base").strip().lower()
    mods_text = m.group("mods") or ""
    if base in _SPATIAL_TYPES:
        ctx.unexpected(f"spatial type {base} on {table}.{col} "
                       "rewritten to text")
        return SourceType("text")
    if base == "set":
        # SET becomes ARRAY<STRING> via one array bound
        # (mysql/mysqldump.go:649-654)
        return SourceType("set", (), (-1,))
    if base == "enum":
        return SourceType("enum")
    mods = tuple(int(x.strip()) for x in mods_text.split(",")
                 if x.strip().lstrip("-").isdigit())
    return SourceType(base, mods)


def _parse_create_table(ctx: MigrationContext, stmt: str) -> bool:
    m = _CREATE_RE.match(stmt.strip().rstrip(";").strip())
    if not m:
        return False
    name = _clean(m.group("name"))
    table = ir.SourceTable(name=name)
    for item in _split_body(m.group("body")):
        up = item.upper()
        if up.startswith("PRIMARY KEY"):
            km = re.search(r"\((?P<cols>[^)]*)\)", item)
            if km:
                cols = [_clean(c) for c in km.group("cols").split(",") if c.strip()]
                table.primary_keys = [ir.Key(c) for c in cols]
                for c in cols:
                    if c in table.col_defs:
                        table.col_defs[c].not_null = True
            continue
        if up.startswith("UNIQUE KEY") or up.startswith("UNIQUE INDEX"):
            km = re.match(r"UNIQUE\s+(?:KEY|INDEX)\s+(?P<name>`[^`]+`|\w+)\s*"
                          r"\((?P<cols>[^)]*)\)", item, re.IGNORECASE)
            if km:
                table.indexes.append(ir.SourceIndex(
                    name=_clean(km.group("name")), unique=True,
                    keys=[ir.Key(_clean(c)) for c in
                          km.group("cols").split(",") if c.strip()]))
            continue
        if up.startswith("SPATIAL KEY") or up.startswith("SPATIAL INDEX"):
            ctx.skip_statement("SpatialKey")  # dropped (S12c)
            continue
        if up.startswith("KEY") or up.startswith("INDEX"):
            km = re.match(r"(?:KEY|INDEX)\s+(?P<name>`[^`]+`|\w+)\s*"
                          r"\((?P<cols>[^)]*)\)", item, re.IGNORECASE)
            if km:
                table.indexes.append(ir.SourceIndex(
                    name=_clean(km.group("name")), unique=False,
                    keys=[ir.Key(_clean(c)) for c in
                          km.group("cols").split(",") if c.strip()]))
            continue
        fm = _FK_RE.match(item)
        if fm:
            table.foreign_keys.append(ir.SourceForeignKey(
                name=_clean(fm.group("name") or ""),
                columns=[_clean(c) for c in fm.group("cols").split(",") if c.strip()],
                refer_table=_clean(fm.group("ref")),
                refer_columns=[_clean(c) for c in fm.group("refcols").split(",") if c.strip()],
                on_delete=(fm.group("ondelete") or "").upper(),
                on_update=(fm.group("onupdate") or "").upper()))
            continue
        if up.startswith("CONSTRAINT") or up.startswith("CHECK"):
            ctx.skip_statement("CheckConstraint")
            continue
        # column definition: `name` type [options]
        parsed = _parse_column_item(ctx, name, item)
        if parsed is None:
            ctx.unexpected(f"unparsable mysql column def: {item[:80]}")
            continue
        col, coldef, is_pk = parsed
        table.col_names.append(col)
        table.col_defs[col] = coldef
        if is_pk:
            table.primary_keys.append(ir.Key(col))
            table.col_defs[col].not_null = True
    ctx.src_schema[name] = table
    ctx.schema_statement("CreateTableStmt")
    return True


def _parse_column_item(ctx: MigrationContext, table_name: str,
                       item: str) -> Optional[tuple]:
    """Parse one ``\\`name\\` type [options]`` column item (shared by
    CREATE TABLE bodies and ALTER TABLE MODIFY COLUMN, mirroring
    processColumn/updateColsByOption, mysql/mysqldump.go:422-492).
    Returns (col_name, SourceColumn, is_pk) or None."""
    cm = re.match(r"^(?P<name>`[^`]+`|\w+)\s+(?P<rest>.*)$", item, re.DOTALL)
    if not cm:
        return None
    col = _clean(cm.group("name"))
    rest = cm.group("rest").strip()
    # isolate the type: strip known options from the tail
    opts_re = re.compile(
        r"\s+(NOT\s+NULL|NULL|DEFAULT\s+(?:'(?:[^'\\]|\\.)*'|[^\s,]+)|"
        r"AUTO_INCREMENT|UNIQUE(?:\s+KEY)?|PRIMARY\s+KEY|"
        r"ON\s+UPDATE\s+\S+|CHECK\s*\(.*\)|COMMENT\s+'(?:[^'\\]|\\.)*'|"
        r"CHARACTER\s+SET\s+\S+|COLLATE\s+\S+|"
        r"REFERENCES\s+\S+\s*\([^)]*\))\s*$",
        re.IGNORECASE | re.DOTALL)
    type_text = rest
    opts: list[str] = []
    while True:
        m2 = opts_re.search(type_text)
        if not m2:
            break
        opts.append(m2.group(1))
        type_text = type_text[:m2.start()]
    ignored = ir.Ignored()
    not_null = unique = is_pk = False
    for o in opts:
        u = re.sub(r"\s+", " ", o.upper())
        if u == "NOT NULL":
            not_null = True
        elif u.startswith("DEFAULT"):
            if "CURRENT_TIMESTAMP" not in u and u != "DEFAULT NULL":
                ignored.default = True
            elif "CURRENT_TIMESTAMP" in u:
                ignored.default = True
        elif u == "AUTO_INCREMENT":
            ignored.auto_increment = True
        elif u.startswith("UNIQUE"):
            unique = True
        elif u == "PRIMARY KEY":
            is_pk = True
        elif u.startswith("REFERENCES"):
            ignored.foreign_key = True
        elif u.startswith("CHECK"):
            ignored.check = True
    st = _parse_mysql_type(type_text, ctx, table_name, col)
    return col, ir.SourceColumn(
        col, st, not_null=not_null, unique=unique, ignored=ignored), is_pk


# ---------------------------------------------------------------------------
# standalone ALTER TABLE / CREATE INDEX (S13, mysql/mysqldump.go:136-157,
# processAlterTable:343-396, processCreateIndex:157-179)
# ---------------------------------------------------------------------------

_ALTER_RE = re.compile(
    r"^ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<table>`[^`]+`|[\w.]+)\s+"
    r"(?P<rest>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_CREATE_INDEX_RE = re.compile(
    r"^CREATE\s+(?P<unique>UNIQUE\s+)?(?P<special>FULLTEXT\s+|SPATIAL\s+)?"
    r"INDEX\s+(?P<name>`[^`]+`|\w+)\s+(?:USING\s+\w+\s+)?ON\s+"
    r"(?P<table>`[^`]+`|[\w.]+)\s*\((?P<cols>[^)]*)\)",
    re.IGNORECASE | re.DOTALL)
_ADD_PK_RE = re.compile(
    r"^(?:CONSTRAINT\s+(?:`[^`]+`|\w+)\s+)?PRIMARY\s+KEY\s*"
    r"\((?P<cols>[^)]*)\)", re.IGNORECASE)
_ADD_UNIQUE_RE = re.compile(
    r"^(?:CONSTRAINT\s+(?P<cname>`[^`]+`|\w+)\s+)?UNIQUE"
    r"(?:\s+(?:KEY|INDEX))?\s*(?P<iname>`[^`]+`|\w+)?\s*"
    r"\((?P<cols>[^)]*)\)", re.IGNORECASE)
_ADD_INDEX_RE = re.compile(
    r"^(?:KEY|INDEX)\s+(?P<name>`[^`]+`|\w+)?\s*\((?P<cols>[^)]*)\)",
    re.IGNORECASE)


def _index_keys(cols_text: str) -> list:
    """Index key columns: strip backticks, prefix lengths ``col(10)``
    and ASC/DESC (mapped to ascending like toSchemaKeys,
    mysql/mysqldump.go:332-341)."""
    keys = []
    for c in cols_text.split(","):
        c = c.strip()
        if not c:
            continue
        c = re.sub(r"\((\s*\d+\s*)\)\s*$", "", c)
        c = re.sub(r"\s+(ASC|DESC)\s*$", "", c, flags=re.IGNORECASE)
        keys.append(ir.Key(_clean(c.strip())))
    return keys


def _parse_alter_table(ctx: MigrationContext, stmt: str) -> bool:
    """Standalone ALTER TABLE: ADD CONSTRAINT/FOREIGN KEY/PRIMARY KEY/
    UNIQUE/INDEX and MODIFY COLUMN are applied; other specs are skipped
    (processAlterTable handles exactly AddConstraint + ModifyColumn)."""
    m = _ALTER_RE.match(stmt.strip())
    if not m:
        return False
    tname = _clean(m.group("table"))
    table = ctx.src_schema.get(tname)
    if table is None:
        ctx.unexpected(f"ALTER TABLE for unknown table {tname}")
        return False
    handled = False
    for item in _split_body(m.group("rest")):
        up = re.sub(r"\s+", " ", item.upper())
        if up.startswith("ADD "):
            body = item[4:].strip()
            fm = _FK_RE.match(body)
            if fm:
                table.foreign_keys.append(ir.SourceForeignKey(
                    name=_clean(fm.group("name") or ""),
                    columns=[_clean(c) for c in
                             fm.group("cols").split(",") if c.strip()],
                    refer_table=_clean(fm.group("ref")),
                    refer_columns=[_clean(c) for c in
                                   fm.group("refcols").split(",") if c.strip()],
                    on_delete=(fm.group("ondelete") or "").upper(),
                    on_update=(fm.group("onupdate") or "").upper()))
                handled = True
                continue
            pm = _ADD_PK_RE.match(body)
            if pm:
                if table.primary_keys:
                    ctx.unexpected(
                        f"ALTER TABLE: table {tname} already has a "
                        "primary key; dropping previous")
                table.primary_keys = _index_keys(pm.group("cols"))
                for k in table.primary_keys:
                    if k.column in table.col_defs:
                        table.col_defs[k.column].not_null = True
                handled = True
                continue
            um = _ADD_UNIQUE_RE.match(body)
            if um:
                table.indexes.append(ir.SourceIndex(
                    name=_clean(um.group("iname") or um.group("cname") or ""),
                    unique=True, keys=_index_keys(um.group("cols"))))
                handled = True
                continue
            im = _ADD_INDEX_RE.match(body)
            if im:
                table.indexes.append(ir.SourceIndex(
                    name=_clean(im.group("name") or ""), unique=False,
                    keys=_index_keys(im.group("cols"))))
                handled = True
                continue
            ctx.skip_statement("AlterTableSpec")
        elif up.startswith("MODIFY "):
            body = re.sub(r"^MODIFY\s+(?:COLUMN\s+)?", "", item,
                          flags=re.IGNORECASE).strip()
            parsed = _parse_column_item(ctx, tname, body)
            if parsed is None:
                ctx.unexpected(f"unparsable MODIFY COLUMN: {item[:80]}")
                continue
            col, coldef, is_pk = parsed
            if col not in table.col_defs:
                ctx.unexpected(
                    f"MODIFY COLUMN for unknown column {tname}.{col}")
                continue
            table.col_defs[col] = coldef
            if is_pk:
                if table.primary_keys:
                    ctx.unexpected(
                        f"ALTER TABLE: table {tname} already has a "
                        "primary key; dropping previous")
                table.primary_keys = [ir.Key(col)]
                coldef.not_null = True
            if coldef.unique:
                # unique column constraint -> unique index (T16)
                table.indexes.append(ir.SourceIndex(
                    name="", unique=True, keys=[ir.Key(col)]))
            handled = True
        else:
            ctx.skip_statement("AlterTableSpec")
    if handled:
        ctx.schema_statement("AlterTableStmt")
    return handled


def _parse_index(ctx: MigrationContext, stmt: str) -> bool:
    """Standalone CREATE [UNIQUE] INDEX ... ON table (cols)."""
    m = _CREATE_INDEX_RE.match(stmt.strip())
    if not m:
        return False
    if m.group("special") and "SPATIAL" in m.group("special").upper():
        ctx.skip_statement("SpatialIndex")  # dropped (S12c)
        return True
    tname = _clean(m.group("table"))
    table = ctx.src_schema.get(tname)
    if table is None:
        ctx.unexpected(
            f"Table {tname} not found while processing index statement")
        return False
    table.indexes.append(ir.SourceIndex(
        name=_clean(m.group("name")), unique=bool(m.group("unique")),
        keys=_index_keys(m.group("cols"))))
    ctx.schema_statement("CreateIndexStmt")
    return True


# ---------------------------------------------------------------------------
# INSERT tokenizer (mysql escape rules) + re-split recovery (S12b)
# ---------------------------------------------------------------------------

_INSERT_HEAD_RE = re.compile(
    r"INSERT\s+(?:IGNORE\s+)?INTO\s+(?P<table>`[^`]+`|[\w.]+)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?VALUES?\s*",
    re.IGNORECASE)


def _match_insert(s: str):
    """(table, cols, values_text) or None — header-only match + body
    slice, replacing the lazy ``.*?`` + anchored-tail regex that cost
    O(len) engine steps per multi-MB extended INSERT (same fix as
    pgdump._match_insert; profiled on the r10 ingest rehearsal)."""
    m = _INSERT_HEAD_RE.match(s)
    if not m:
        return None
    v = s[m.end():].rstrip()
    if v.endswith(";"):
        v = v[:-1].rstrip()
    return m.group("table"), m.group("cols"), v

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "0": "\0", "b": "\b",
            "Z": "\x1a", "\\": "\\", "'": "'", '"': '"', "%": "\\%",
            "_": "\\_"}



def parse_insert_values(values_text: str) -> list[list[Optional[str]]]:
    """Tokenize (...),(...) tuples with MySQL escaping. Returns rows of
    strings (None = NULL).

    Same bulk-advancement rewrite as pgdump._parse_insert_values
    (state machine unchanged, C-speed regex jumps between action
    characters); parity pinned by the fuzz test against the per-char
    reference (test_mysqldump)."""
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
        was_quoted = False
        while i < n:
            if in_squote:
                m = _ESC_OR_QUOTE_RE.search(values_text, i)
                if not m:
                    i = n
                    break
                if m.start() > i:
                    cur.append(values_text[i:m.start()])
                i = m.start()
                ch = values_text[i]
                if ch == "\\" and i + 1 < n:
                    nxt = values_text[i + 1]
                    cur.append(_ESCAPES.get(nxt, nxt))
                    i += 2
                elif ch == "'":
                    if i + 1 < n and values_text[i + 1] == "'":
                        cur.append("'")
                        i += 2
                    else:
                        in_squote = False
                        i += 1
                else:            # lone backslash at end of input
                    cur.append(ch)
                    i += 1
                continue
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
                if not "".join(cur).strip():
                    cur = []  # drop whitespace preceding the quote
                i += 1
            else:                # ',' or ')'
                if ch == ")" and not row and not was_quoted \
                        and not "".join(cur).strip():
                    # empty tuple '()' — no values
                    i += 1
                    break
                if was_quoted:
                    row.append("".join(cur))
                else:
                    tok = "".join(cur).strip()
                    if tok.upper() == "NULL":
                        row.append(None)
                    elif tok.upper() == "TRUE":
                        row.append("1")
                    elif tok.upper() == "FALSE":
                        row.append("0")
                    elif tok.startswith("0x") or tok.startswith("0X"):
                        try:  # hex literal -> raw string bytes
                            row.append(bytes.fromhex(tok[2:]).decode(
                                "utf-8", errors="surrogateescape"))
                        except ValueError:
                            row.append(tok)
                    else:
                        row.append(tok)
                cur = []
                was_quoted = False
                i += 1
                if ch == ")":
                    break
        if row:
            rows.append(row)
    return rows


_TUPLE_SPLIT_RE = re.compile(r"\)\s*,\s*\(")


# mysql string literals (backslash escapes; '' doubling for single
# quotes only) and the clean extended-INSERT shape: after replacing
# every string with a quoteless placeholder, a well-formed VALUES list
# is strictly tuples of quote/paren-free tokens separated by commas —
# anything else falls back to the full recovery parse
_MY_STRING_RE = re.compile(
    r"'(?:\\.|''|[^'\\])*'|\"(?:\\.|[^\"\\])*\"", re.DOTALL)
_MY_CLEAN_TUPLES_RE = re.compile(
    r"\A\s*\([^()'\"`]*\)(?:\s*,\s*\([^()'\"`]*\))*\s*;?\s*\Z",
    re.DOTALL)


_MY_TUPLE_RE = re.compile(r"\(([^()'\"`]*)\)")
_MY_EMPTY_TUPLE_RE = re.compile(r"\(\s*\)")


def count_insert_tuples(values_text: str) -> Optional[int]:
    """Fast tuple count for the schema pass's row stats, or None when
    the statement is not cleanly shaped (mangled quoting, nesting) —
    the caller then runs parse_insert_with_recovery, preserving the
    recovery counters and drop semantics exactly. The schema pass
    used to FULLY tokenize every extended INSERT just to count rows
    (profiled: half the pass).

    Empty tuples ``()`` are NOT counted — parse_insert_values drops
    them (the all-defaults INSERT guard), and the schema-pass stats
    must match what the data pass actually writes (code-review r7)."""
    stripped = _MY_STRING_RE.sub("S", values_text)
    if _MY_CLEAN_TUPLES_RE.match(stripped):
        # clean shape = flat non-nested tuples, so count('(') IS the
        # tuple count; subtract whitespace-only tuples, which the
        # full parser drops (the per-tuple finditer sum was ~1M
        # Python loop steps per MB — r10 profile)
        n = stripped.count("(")
        if _MY_EMPTY_TUPLE_RE.search(stripped):
            n -= sum(1 for m in _MY_TUPLE_RE.finditer(stripped)
                     if not m.group(1).strip())
        return n
    return None


def parse_insert_with_recovery(ctx: MigrationContext,
                               values_text: str) -> list[list[Optional[str]]]:
    """S12b (mysql/mysqldump.go:584-604): if the extended VALUES list
    fails to tokenize as a whole, split on '),(' boundaries and parse
    each single-row tuple; rows that still fail are dropped (counted)."""
    try:
        return parse_insert_values(values_text)
    except Exception:
        pass
    rows = []
    chunks = _TUPLE_SPLIT_RE.split(values_text.strip())
    for idx, chunk in enumerate(chunks):
        c = chunk
        if not c.startswith("("):
            c = "(" + c
        if not c.rstrip().endswith(")"):
            c = c + ")"
        try:
            rows.extend(parse_insert_values(c))
            ctx.reparsed += 1
        except Exception:
            ctx.unexpected("unparsable INSERT tuple")
    return rows


# ---------------------------------------------------------------------------
# the two passes
# ---------------------------------------------------------------------------

_SET_TZ_RE = re.compile(
    r"^SET\s+(?:@@session\.)?TIME_ZONE\s*=\s*(?P<val>[^;,]+)",
    re.IGNORECASE)


def process_mysql_dump_schema(ctx: MigrationContext, stream: TextIO,
                              count_rows: bool = True) -> None:
    """Pass 1: schema + row counts (S11 schema mode).

    ``count_rows=False`` (distributed data pass): INSERT statements are
    validated and counted as statements but their VALUES lists are NOT
    tokenized on the driver — the executor-side parse supplies the
    per-table row totals afterwards (same final stats, since both
    paths run the identical tokenizer)."""
    ctx.set_schema_mode()
    for stmt in _iter_statements(stream, ctx):
        s = _unwrap_conditional(stmt).strip()
        up = s.upper()
        if up.startswith("CREATE TABLE"):
            if not _parse_create_table(ctx, s):
                ctx.error_in_statement("CreateTableStmt")
        elif up.startswith("ALTER TABLE"):
            if not _parse_alter_table(ctx, s):
                ctx.skip_statement("AlterTableStmt")
        elif re.match(r"^CREATE\s+(?:UNIQUE\s+|FULLTEXT\s+|SPATIAL\s+)?INDEX",
                      up):
            if not _parse_index(ctx, s):
                ctx.error_in_statement("CreateIndexStmt")
        elif up.startswith("INSERT"):
            m = _match_insert(s)
            if m:
                if count_rows:
                    n = count_insert_tuples(m[2])
                    if n is None:
                        n = len(parse_insert_with_recovery(
                            ctx, m[2]))
                    ctx.stats_add_row(_clean(m[0]), n)
                ctx.data_statement("InsertStmt")
            else:
                ctx.error_in_statement("InsertStmt")
        elif up.startswith("SET"):
            m = _SET_TZ_RE.match(s)
            if m:
                val = m.group("val").strip().strip("'\"")
                if re.match(r"^[+-]\d{2}:\d{2}$", val):
                    ctx.timezone_offset = val
                ctx.schema_statement("SetStmt")
            else:
                ctx.skip_statement("SetStmt")
        elif (up.startswith("CREATE TRIGGER") or up.startswith("CREATE PROCEDURE")
                or up.startswith("CREATE FUNCTION") or up.startswith("CREATE EVENT")):
            ctx.skip_statement("StoredProgram")  # S12a
        elif up.startswith("DROP") or up.startswith("LOCK") or up.startswith("UNLOCK"):
            ctx.skip_statement(up.split(None, 1)[0].title() + "Stmt")
        else:
            ctx.skip_statement((up.split(None, 1)[0] if up else "?").title() + "Stmt")


def stage_mysql_dump_data(ctx: MigrationContext, stream: TextIO,
                          staging_dir: str,
                          writer: Optional[StagingWriter] = None,
                          ) -> dict[str, str]:
    """Pass 2: stream INSERT rows into per-table TSV staging files
    (same format as the pg path: seq column + COPY escaping). Pass a
    shared ``writer`` when one table's data spans multiple dump files —
    it appends and continues each table's sequence instead of
    truncating (the caller closes it)."""
    own_writer = writer is None
    w = writer if writer is not None else StagingWriter(staging_dir)

    for stmt in _iter_statements(stream, ctx):
        s = _unwrap_conditional(stmt).strip()
        if not s.upper().startswith("INSERT"):
            continue
        m = _match_insert(s)
        if not m:
            continue
        table = _clean(m[0])
        schema_table = ctx.src_schema.get(table)
        if schema_table is None:
            ctx.unexpected(f"INSERT into unknown table {table}")
            continue
        cols = ([_clean(c) for c in m[1].split(",")]
                if m[1] else list(schema_table.col_names))
        for vals in parse_insert_with_recovery(ctx, m[2]):
            by_col = dict(zip(cols, vals))
            ordered = [by_col.get(c) for c in schema_table.col_names]
            w.write_values(table, ordered)
    if own_writer:
        w.close()
    return dict(w.paths)


# ---------------------------------------------------------------------------
# distributed data pass: fused byte-range scan + executor tokenization
# ---------------------------------------------------------------------------
#
# mysqldump data is extended INSERT statements; both the statement-
# boundary scan AND the VALUES tokenization (quote machine + escapes,
# parse_insert_values) run as byte-range Spark tasks in one fused
# pass on pgdump's dump reader (range plan and cutover, range job,
# trusted-cursor reconciliation, span tokenizer and sequence walk; see
# the design comment there).  This module supplies only its statement
# scanner, its has-data predicate and its tokenize kernel.  mysql has
# no COPY data blocks, so no terminator syncs are needed; the one
# dialect-specific construct is the DELIMITER stored-program block,
# which travels as a single whole-block event (emitted at its close
# with the staged pass's skip count) so the reconciliation cursor
# steps over it atomically — speculative ranges that started inside a
# block are rejected by the cursor match and their segments rescan
# exactly.  Sequence numbers compose from per-(span, table) counts in
# event order, reproducing the staged write order bit-identically;
# recovery counters and unknown-table messages replay from ACCEPTED
# spans only.


def _my_is_data_stmt(text: str) -> bool:
    """has-INSERT predicate for span filtering: conditional comments
    (/*!40000 INSERT ... */) carry executable INSERTs and must count
    (code-review r8 — a span whose only INSERTs were wrapped was
    skipped by the tokenize dispatch and silently dropped rows)."""
    return _unwrap_conditional(text).strip()[:6].upper() == "INSERT"


def _scan_mysql_statements(f, chunk_bytes: int = 32 << 20,
                           base: int = 0,
                           limit=None, hard_limit=None,
                           sync_marks=None):
    """Offset-aware twin of _iter_statements for byte-range scans:
    yields ``("stmt", text, start, end)`` for every statement,
    ``("dblock", start, end, n_skips)`` for DELIMITER stored-program
    blocks (one event covering the WHOLE block, emitted at its close,
    carrying how many DELIMITER statements the staged pass would have
    counted via ctx.skip_statement — a block must advance the
    reconciliation cursor in one piece, or speculative ranges inside
    it would have their garbage parses accepted), and
    ``("end", stop, clean)`` exactly like pgdump._scan_dump_statements
    (same limit spill / hard-abort semantics; mysql has no COPY data,
    so ``sync_marks`` is accepted for interface parity and unused).
    Statement boundary rules mirror _iter_statements; the differential
    tests hold the two parsers to identical statement streams."""
    del chunk_bytes, sync_marks
    r = _OffsetReader(f, base=base)
    st = _MyScanState()
    parts: list[str] = []
    stmt_start = 0
    delimiter_mode = False
    dblock_start = 0
    dblock_skips = 0
    while True:
        pos_abs = r.base + r.pos
        if limit is not None and pos_abs >= limit and not parts \
                and not st.in_squote and not st.in_dquote \
                and not st.in_backtick and not delimiter_mode:
            yield ("end", pos_abs, True)
            return
        if hard_limit is not None and pos_abs >= hard_limit:
            yield ("end", pos_abs, False)
            return
        bline = r.readline()
        if bline is None:
            break
        line = bline.decode("utf-8")
        if line.endswith("\r"):
            line = line[:-1]
        line_abs = r.line_start
        ascii_line = bline.isascii()

        def b_off(k: int) -> int:
            return line_abs + (k if ascii_line
                               else len(line[:k].encode("utf-8")))

        stripped = line.strip()
        if not parts and not (st.in_squote or st.in_dquote):
            if not stripped or stripped.startswith("--") \
                    or stripped.startswith("#"):
                continue
            up = stripped.upper()
            if up.startswith("DELIMITER"):
                was = delimiter_mode
                delimiter_mode = \
                    not up.replace("DELIMITER", "").strip() == ";"
                if was and not delimiter_mode:
                    yield ("dblock", dblock_start, r.base + r.pos,
                           dblock_skips + 1)
                    dblock_skips = 0
                elif delimiter_mode:
                    if not was:
                        dblock_start = line_abs
                        dblock_skips = 1
                    else:
                        dblock_skips += 1
                else:       # standalone "DELIMITER ;" outside a block
                    yield ("dblock", line_abs, r.base + r.pos, 1)
                continue
            if delimiter_mode:
                continue
        seg_start = 0
        comment_start = len(line)
        while True:
            if not parts:
                stmt_start = b_off(seg_start)
            semi, comment_start = _my_scan_to_semi(st, line, seg_start)
            if semi < 0:
                break
            segment = line[seg_start:semi + 1]
            yield ("stmt",
                   "\n".join(parts + [segment]) if parts else segment,
                   stmt_start, b_off(semi + 1))
            parts = []
            seg_start = semi + 1
        comment_tail = comment_start < len(line)
        tail = line[seg_start:]
        if comment_tail and not parts \
                and not line[seg_start:comment_start].strip():
            continue
        if comment_tail or parts or tail.strip() \
                or st.in_squote or st.in_dquote:
            if parts or tail.strip() or st.in_squote or st.in_dquote:
                parts.append(tail)
    if parts and any(p.strip() for p in parts):
        yield ("stmt", "\n".join(parts), stmt_start, r.base + r.pos)
    if delimiter_mode:
        # unterminated block at EOF: still report its skip count
        yield ("dblock", dblock_start, r.base + r.pos, dblock_skips)
    yield ("end", r.base + r.pos, True)


class _RecoveryCtx:
    """ctx stand-in for parse_insert_with_recovery inside executors:
    counts the two recovery events per statement (module-level so the
    per-statement hot loop pays instantiation only)."""

    __slots__ = ("reparsed", "unparsable")

    def __init__(self):
        self.reparsed = 0
        self.unparsable = 0

    def unexpected(self, msg):
        self.unparsable += 1


def _tokenize_mysql_stmt(ev, span_start: int, out) -> None:
    """The mysql tokenize kernel (see pgdump._tokenizer): one
    ("stmt", ...) event, tokenized exactly as the staged pass would:
    conditional-comment unwrap, INSERT match, recovery parse; emits
    staged-layout rows for known tables, count/recovery metadata for
    all, unknown-table messages."""
    s = _unwrap_conditional(ev[1]).strip()
    if not s.upper().startswith("INSERT"):
        return
    m = _match_insert(s)
    if not m:
        return
    table = _clean(m[0])
    known = table in out.schema_cols
    if not known:
        out.unknown(span_start, ev[2], f"INSERT into unknown table {table}")
    rctx = _RecoveryCtx()
    tuples = parse_insert_with_recovery(rctx, m[2])
    out.recovered(span_start, table, rctx.reparsed, rctx.unparsable)
    # presence marker even at zero tuples: stats/recovery replay must
    # see tables whose INSERTs all parsed empty or unparsable
    # (code-review r8); an unknown table's tuples count for row stats
    # and stage no data
    out.count(span_start, table, ev[2], 0 if known else len(tuples))
    if known:
        out.insert(span_start, table, ev[2],
                   [_clean(c) for c in m[1].split(",")] if m[1] else None,
                   tuples)


def _staged_result(spark: SparkSession, ctx: MigrationContext,
                   src_table: str, path: str) -> ConversionResult:
    """The conversion of one table's staged-layout text (a TSV, or the
    distributed pass's sequenced values), its plan built by whichever
    thread first touches it (ConversionResult.deferred)."""
    sizes = text_sizes(path)
    return ConversionResult.deferred(
        lambda: convert_table(ctx, read_staged_table(spark, ctx, src_table,
                                                     path),
                              src_table, "mysql"),
        splits=file_splits(spark, sizes), input_bytes=sum(sizes))


def _migrate_mysql_distributed(spark: SparkSession, ctx: MigrationContext,
                               paths: list, staging_dir: str,
                               chunk_bytes: int = 32 << 20,
                               ) -> dict[str, ConversionResult]:
    """Distributed data pass on pgdump's byte-range dump reader: the
    statement-boundary scan runs as byte-range Spark tasks with FUSED
    tokenization (dump bytes read once), the driver reconciles the
    ranges and sees only per-(span, table) counts, and each table's
    sequenced rows materialize as staged-layout text via concurrent
    executor writes.  Below the cutover the driver scans each file
    exactly and executors tokenize its spans.  DELIMITER
    stored-program blocks travel as single whole-block events so the
    trusted cursor steps over them atomically; skip/unknown/recovery
    side effects replay from accepted events in statement order, so
    ctx stats are bit-identical to the staged pass."""
    scan = {"scanner": _scan_mysql_statements, "is_data": _my_is_data_stmt}
    sizes, descs, serial = _plan_ranges(spark, paths, chunk_bytes,
                                        _scan_mysql_statements)
    if serial:
        file_events = _scan_serial(paths, chunk_bytes, **scan)
        parsed, counts, unknowns, recovery = _tokenize_spans(
            spark, ctx, _data_spans(paths, file_events),
            _tokenize_mysql_stmt, _scan_mysql_statements)
    else:
        parsed = _range_scan_job(
            spark, descs, chunk_bytes,
            _tokenizer(ctx, _tokenize_mysql_stmt), **scan).localCheckpoint()
        counts, unknowns, recovery, summaries = _collect_span_meta(parsed)
        file_events, accepted, rescans = _reconcile_ranges(
            paths, sizes, summaries, chunk_bytes, **scan)
        # the walk reads only reconciled spans; the per-table recovery
        # sums below must skip the rejected speculative ones too
        recovery = {k: v for k, v in recovery.items()
                    if k[:3] in accepted}
        if rescans:
            parsed2, counts2, unknowns2, recovery2 = _tokenize_spans(
                spark, ctx, rescans, _tokenize_mysql_stmt,
                _scan_mysql_statements)
            parsed = parsed.unionByName(parsed2)
            counts.update(counts2)
            unknowns.extend(unknowns2)
            recovery.update(recovery2)
    order, seqs, present, _chunks, txt_paths = _sequence_spans(
        spark, ctx, paths, file_events, parsed, counts, unknowns,
        staging_dir)

    # per-table recovery counters over every PRESENT table (not just
    # row-yielding ones — code-review r8): staged tokenizes each
    # KNOWN table's statements twice (pass-1 row counting + pass-2
    # staging), so its counters increment twice; unknown tables parse
    # only in pass 1.  Match exactly.
    rec_by_table: dict[str, list] = {}
    for (_p, _rng, _ss, t), (rp, un) in recovery.items():
        r = rec_by_table.setdefault(t, [0, 0])
        r[0] += rp
        r[1] += un
    for t in present:
        rp, un = rec_by_table.get(t, (0, 0))
        factor = 2 if t in ctx.src_schema else 1
        ctx.reparsed += factor * rp
        for _ in range(factor * un):
            ctx.unexpected("unparsable INSERT tuple")
        # schema-mode row totals deferred from pass 1
        # (count_rows=False)
        ctx.stats_add_row(t, seqs.get(t, 0))

    return {t: _staged_result(spark, ctx, t, txt_paths[t])
            for t in order if t in txt_paths}  # unknown tables: stats only


# multi-file --tab scan cutover (VERDICT r8 ask 7): below this total
# the per-file regex scans run serially on the driver (a Spark job
# round trip would dominate); above it each .txt is scanned by one
# executor task — a per-table-file directory is embarrassingly
# parallel and the scan is the only remaining driver-side O(bytes)
# work on this path
_TAB_PARALLEL_MIN_BYTES = 64 << 20


def _scan_tab_chunks_path(path: str, chunk_bytes: int = 32 << 20):
    """Executor-side wrapper: open + scan one --tab .txt."""
    with open(path, "rb") as f:
        return _scan_tab_chunks(f, chunk_bytes)


def _scan_tab_chunks(f, chunk_bytes: int = 32 << 20):
    """Chunk ranges + row counts over a mysqldump --tab TSV.  Rows end
    at UNESCAPED newlines only: SELECT INTO OUTFILE escapes an
    embedded line terminator as backslash + LITERAL newline, so a raw
    count(b"\\n") would split rows (code-review r8).  Bulk ops: one
    count + one regex sweep over backslash-run-before-newline sites
    per buffer region; chunk cuts land on unescaped newlines, so runs
    never span region boundaries."""
    import re as _re
    esc_nl = _re.compile(rb"\\+\n")
    chunks: list[tuple[int, int, int]] = []
    buf = b""
    base = 0                  # abs offset of buf[0]; always a row start
    eof = False

    def count_rows(seg: bytes) -> int:
        n = seg.count(b"\n")
        for m in esc_nl.finditer(seg):
            if (m.end() - 1 - m.start()) % 2:      # odd backslashes
                n -= 1
        return n

    def last_unescaped_nl(seg: bytes) -> int:
        i = len(seg)
        while True:
            j = seg.rfind(b"\n", 0, i)
            if j < 0:
                return -1
            k = j - 1
            while k >= 0 and seg[k] == 0x5C:
                k -= 1
            if (j - 1 - k) % 2 == 0:
                return j
            i = j

    while True:
        while not eof and len(buf) < chunk_bytes + (1 << 16):
            more = f.read(8 << 20)
            if not more:
                eof = True
                break
            buf += more
        if not buf:
            break
        cut = last_unescaped_nl(buf[:chunk_bytes + (1 << 16)]) \
            if not eof else last_unescaped_nl(buf)
        if cut < 0:
            if eof:
                # unterminated final line: one row
                chunks.append((base, base + len(buf), 1))
                break
            # a single row larger than the window: grow the buffer
            chunk_bytes *= 2
            continue
        end = cut + 1
        seg = buf[:end]
        if eof and end == len(buf):
            chunks.append((base, base + end, count_rows(seg)))
            break
        if eof:
            tail = buf[end:]
            chunks.append((base, base + end, count_rows(seg)))
            chunks.append((base + end, base + len(buf), 1))
            break
        chunks.append((base, base + end, count_rows(seg)))
        buf = buf[end:]
        base += end
    return chunks


_TAB_NL_RE = re.compile(rb"\n")
_TAB_BSRUN_RE = re.compile(rb"\\+")
_TAB_FIELD_RE = re.compile(rb"\t")
_TAB_UNESC_RE = re.compile(rb"\\(.|\n)", re.DOTALL)


def _tab_unesc(m):
    ch = m.group(1)
    return b"\x00" if ch == b"0" else ch


def _decode_tab_row(row: bytes) -> list:
    """One --tab row (no trailing newline) -> field values
    (None for \\N).  Unescaped tabs split fields; backslash+X decodes
    to X (with \\0 -> NUL, matching LOAD DATA), exactly inverting what
    OUTFILE writes.  Escape positions resolve via backslash-run
    parity; patterns precompiled at module level (this runs once per
    data row in the executor hot loop — code-review r8)."""
    from bisect import bisect_right
    runs = [(m.start(), m.end())
            for m in _TAB_BSRUN_RE.finditer(row)]

    def escaped(pos: int) -> bool:
        # is row[pos] preceded by an odd-length backslash run?
        i = bisect_right(runs, (pos,)) - 1
        if i < 0:
            return False
        s, e = runs[i]
        return e == pos and (e - s) % 2 == 1

    cuts = [m.start() for m in _TAB_FIELD_RE.finditer(row)
            if not escaped(m.start())]
    fields = []
    prev = 0
    for c in cuts + [len(row)]:
        fields.append(row[prev:c])
        prev = c + 1
    out = []
    for fb in fields:
        if fb == b"\\N":
            out.append(None)
        else:
            out.append(_TAB_UNESC_RE.sub(_tab_unesc, fb)
                       .decode("utf-8"))
    return out


def read_tab_chunks(spark: SparkSession, ctx: MigrationContext,
                    src_table: str, chunks: list):
    """Distributed --tab chunk reader: each (path, start, end, rows,
    start_seq) range is one executor task that splits its slice at
    unescaped newlines, decodes the OUTFILE escaping, and emits
    STAGED-layout values (seq + copy_escape fields) for the shared
    JVM decoder — so casts/quarantine run identically to every other
    ingest path.  The driver never touches a row."""
    from .pgdump import _decode_staged_values

    schema_cols = list(ctx.src_schema[src_table].col_names)
    ncols = len(schema_cols)
    desc = descriptor_frame(
        spark, [(c[0], c[1], c[2], c[3], c[4]) for c in chunks],
        "path string, start long, end long, rows long, start_seq long")

    def _ends_unescaped_nl(data: bytes) -> bool:
        if not data.endswith(b"\n"):
            return False
        k = len(data) - 2
        while k >= 0 and data[k] == 0x5C:
            k -= 1
        return (len(data) - 2 - k) % 2 == 0

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                with open(rec.path, "rb") as fh:
                    fh.seek(rec.start)
                    data = fh.read(rec.end - rec.start)
                # strip the ROW TERMINATOR only: a trailing ESCAPED
                # newline is field content of an unterminated final
                # row and must survive (code-review r8)
                if _ends_unescaped_nl(data):
                    data = data[:-1]
                # split at unescaped newlines (runs via parity)
                cuts = []
                for m in _TAB_NL_RE.finditer(data):
                    j = m.start()
                    k = j - 1
                    while k >= 0 and data[k] == 0x5C:
                        k -= 1
                    if (j - 1 - k) % 2 == 0:
                        cuts.append(j)
                rows_out = []
                seq = rec.start_seq
                prev = 0
                for c in cuts + [len(data)]:
                    vals = _decode_tab_row(data[prev:c])
                    prev = c + 1
                    if len(vals) < ncols:
                        vals += [None] * (ncols - len(vals))
                    rows_out.append(
                        f"{seq}\t" + "\t".join(
                            StagingWriter.copy_escape(v)
                            for v in vals[:ncols]))
                    seq += 1
                if seq - rec.start_seq != rec.rows:
                    raise ValueError(
                        f"tab chunk row mismatch for {rec.path}"
                        f"[{rec.start}:{rec.end}]: scanned {rec.rows},"
                        f" read {seq - rec.start_seq}")
                yield pd.DataFrame({"value": rows_out})

    values = desc.mapInPandas(gen, "value string")
    return _decode_staged_values(values, ctx, src_table)


def migrate_mysql_tab(spark: SparkSession, tab_dir: str,
                      ctx: Optional[MigrationContext] = None,
                      chunk_bytes: int = 32 << 20,
                      ) -> tuple[MigrationContext, dict[str, ConversionResult]]:
    r"""``mysqldump --tab`` ingest: the directory holds per-table
    ``<table>.sql`` (CREATE TABLE DDL) and ``<table>.txt`` (TSV data
    in the SELECT INTO OUTFILE contract: FIELDS TERMINATED BY '\t'
    ESCAPED BY '\\' LINES TERMINATED BY '\n' — embedded tabs/newlines
    appear as backslash + the LITERAL character, NUL as ``\0``,
    NULL as ``\N``, CR passes raw).  The fastest mysql path by
    construction: no statement scanning and no tokenization — each
    .txt splits into byte-range chunks at UNESCAPED newlines by a
    bulk regex scan, executors decode the OUTFILE escaping and emit
    staged-layout values with byte-position-derived sequences, so
    synthetic PKs are deterministic at any parallelism and
    casts/quarantine run through the shared JVM decoder.

    NUL bytes (``\0``) decode to NUL and are then stripped by the
    staged escaper — identical to how the INSERT-format path stages
    them (copy_escape drops NUL; the staged text contract reserves
    it).

    Scale: driver work is one regex pass per .txt; everything else is
    executor tasks."""
    import glob as _glob

    if ctx is None:
        ctx = MigrationContext()
    sql_files = sorted(_glob.glob(os.path.join(tab_dir, "*.sql")))
    if not sql_files:
        raise ValueError(f"no .sql DDL files in {tab_dir}")
    ddl_names = {os.path.splitext(os.path.basename(q))[0]
                 for q in sql_files}
    orphan_txt = sorted(
        os.path.basename(t)
        for t in _glob.glob(os.path.join(tab_dir, "*.txt"))
        if os.path.splitext(os.path.basename(t))[0] not in ddl_names)
    ctx.set_schema_mode()
    for p in sql_files:
        with open(p, encoding="utf-8", newline="\n") as f:
            process_mysql_dump_schema(ctx, f, count_rows=False)
    schema_to_ddl(ctx, "mysql")
    ctx.add_synthetic_pkeys()

    ctx.set_data_mode()
    for t in orphan_txt:
        # a data file whose DDL is missing must be REPORTED, not
        # silently ignored (parity with the INSERT path's
        # unknown-table flagging; code-review r8)
        ctx.unexpected(f"data file with no DDL: {t}")
    results: dict[str, ConversionResult] = {}
    work: list[tuple[str, str]] = []    # (table, txt) in DDL order
    for p in sql_files:
        name = os.path.splitext(os.path.basename(p))[0]
        table = _clean(name)
        txt = os.path.join(tab_dir, f"{name}.txt")
        if not os.path.exists(txt):
            continue                    # schema-only table
        if table not in ctx.src_schema:
            ctx.unexpected(f"data for unknown table {table}")
            continue
        if os.path.getsize(txt) == 0:
            continue
        work.append((table, txt))
    total = sum(os.path.getsize(t) for _, t in work)
    if len(work) > 1 and total >= _TAB_PARALLEL_MIN_BYTES:
        # one executor task per file: the scans are independent regex
        # passes, so a directory of per-table files parallelizes
        # perfectly (VERDICT r8 ask 7); ctx side effects below keep
        # DDL order regardless of task completion order
        cb = chunk_bytes
        scanned = dict(
            spark.sparkContext
            .parallelize([t for _, t in work], len(work))
            .map(lambda path: (path, _scan_tab_chunks_path(path, cb)))
            .collect())
    else:
        scanned = {txt: _scan_tab_chunks_path(txt, chunk_bytes)
                   for _, txt in work}
    for table, txt in work:
        ranges = scanned[txt]
        seq = 0
        chunks = []
        for (s, e, n) in ranges:
            chunks.append((txt, s, e, n, seq))
            seq += n
        ctx.stats_add_row(table, seq)
        df = read_tab_chunks(spark, ctx, table, chunks)
        results[table] = convert_table(ctx, df, table, "mysql")
    return ctx, results


def migrate_mysql_dump(spark: SparkSession, dump_path: Union[str, list[str]],
                       staging_dir: str,
                       ctx: Optional[MigrationContext] = None,
                       mode: str = "staged",
                       ) -> tuple[MigrationContext, dict[str, ConversionResult]]:
    """Full mysqldump migration (schema pass + data pass + typed
    conversion with bad-row split).  ``mode="distributed"`` keeps only
    the statement chunker on the driver and runs VALUES tokenization /
    recovery / escaping on executors, with sequences bit-identical to
    the staged pass."""
    if mode not in ("staged", "distributed"):
        raise ValueError(f"unknown ingest mode {mode!r}")
    if ctx is None:
        ctx = MigrationContext()
    paths = [dump_path] if isinstance(dump_path, str) else list(dump_path)
    for p in paths:
        with open(p, encoding="utf-8", newline="\n") as f:
            process_mysql_dump_schema(ctx, f,
                                      count_rows=(mode == "staged"))
    schema_to_ddl(ctx, "mysql")
    ctx.add_synthetic_pkeys()

    ctx.set_data_mode()
    if mode == "distributed":
        return ctx, _migrate_mysql_distributed(spark, ctx, paths,
                                               staging_dir)
    # one writer across all dump files: appends + continuous per-table
    # sequence (sharded dumps put one table's rows in several files)
    writer = StagingWriter(staging_dir)
    try:
        for p in paths:
            with open(p, encoding="utf-8", newline="\n") as f:
                stage_mysql_dump_data(ctx, f, staging_dir, writer=writer)
    finally:
        writer.close()
    staged = dict(writer.paths)

    return ctx, {t: _staged_result(spark, ctx, t, path)
                 for t, path in staged.items() if t in ctx.src_schema}
