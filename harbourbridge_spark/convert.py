"""Cast-expression planner: string rows -> typed rows + bad-row split.

This is the Spark-first re-expression of the reference's row converters
(/root/reference/postgres/data.go:52-383, mysql/data.go:55-261):
instead of converting value-by-value in a loop, we emit one Spark Column
expression per column (D5-D14), a per-column error flag, and split the
DataFrame once into (good, bad) — the row-level quarantine semantics of
ProcessDataRow/CollectBadRow (postgres/data.go:37-46,
internal/convert.go:228-249) expressed declaratively so the whole
projection runs inside whole-stage codegen. No Python UDFs.

Error semantics: a row is bad iff any column's source value is non-NULL
but fails conversion (matches the reference's first-error-wins row
quarantine; we report the full set of failing columns instead of just
the first, which only affects diagnostic messages, not counts).

The synthetic primary key (T14) is a bit-reversed sequence
(postgres/data.go:99-104 uses bits.Reverse64) over an explicit
``_seq`` ordering column provided by the source (dump sources stage a
line-sequence column; see sources/pgdump.py). Bit-reversal spreads
sequential inserts across the target key space — the same
hot-spot-avoidance rationale as the reference — and is computed with
pure JVM bit arithmetic.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import types as tt
from .context import MigrationContext
from .schema_ir import TargetTable

# PostgreSQL COPY NULL marker is handled at read time (nullValue='\\N');
# MySQL dumps yield NULL literals handled here.
MYSQL_NULL_MARKERS = ("NULL", "<nil>")

# Sequence/ordering column name contributed by dump sources.
SEQ_COL = "_hb_seq"
ERRS_COL = "_hb_errs"
# source row of a quarantined row, carried next to its typed columns
SRC_COL = "_hb_src"


@dataclass
class ColumnPlan:
    target_col: str
    expr: Column        # typed value expression (aliased later)
    err: Column         # true => this column failed conversion


# Zone names equivalent to UTC: no reinterpretation needed (fast path).
_UTC_ZONES = frozenset({"utc", "gmt", "etc/utc", "etc/gmt", "etc/gmt+0",
                        "etc/gmt-0", "z", "zulu", "universal", "etc/universal",
                        "gmt0", "etc/gmt0", "greenwich", "etc/greenwich"})

# A value carries an explicit zone iff a time component is followed by
# 'Z' or a +hh[:mm[:ss]] offset (pg_dump abbreviates to hour-only when
# minutes are zero, postgres/data.go:207). Anchoring on the hh:mm time
# keeps date strings like '2019-10-28' (which *end* in '-28') zone-less.
_PG_ZONE_SUFFIX_RE = r"\d{2}:\d{2}(:\d{2})?(\.\d+)?\s*([zZ]|[+-]\d{1,2}(:\d{2}){0,2})$"

# Reference-strict input shapes (r6 parity sweep).  Spark's string
# casts are far more permissive than the Go parsers the reference
# uses — try_cast alone CONVERTS values the reference quarantines
# ('yes' -> bool, '2024' -> date, '2024-01-02T10:11:12' and even
# date-only strings -> naive timestamp, and a zone suffix on a
# timestamp-WITHOUT-time-zone silently shifts the instant).  Each cast
# below is therefore gated on the exact grammar its Go counterpart
# accepts:
#
# strconv.ParseBool's accepted set is exact-case (postgres/data.go:140,
# mysql/data.go:129 int fallback aside): no 'y'/'yes'/'tRuE'.
_GO_BOOL_RE = r"^(1|0|t|T|f|F|TRUE|true|True|FALSE|false|False)$"
# civil.ParseDate = time.Parse("2006-01-02"): fixed two-digit month and
# day, nothing else (no '2024', '2024-1-2', no time part).
_GO_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
# time.Parse("2006-01-02 15:04:05"): space separator only, 1-2 digit
# hour (stdHour is not zero-pad-fixed), fixed 2-digit month/day/min/
# sec; Go accepts a fractional second ('.' or ',') even though the
# layout omits it.  No zone suffix, no 'T', no date-only.
_GO_NAIVE_TS_RE = r"^\d{4}-\d{2}-\d{2} \d{1,2}:\d{2}:\d{2}([.,]\d+)?$"
# pg timestamptz chain (postgres/data.go:204-227): the naive shape
# optionally followed by Z / +hh / +hh:mm.  Deliberate superset vs the
# reference (documented divergence): a seconds-precision offset
# (+hh:mm:ss) is also accepted, because pg_dump really emits those for
# pre-standardization LMT zones and quarantining correct data to mimic
# a reference gap is the wrong trade; the reference rejects them.
_PG_TZ_TS_RE = (r"^\d{4}-\d{2}-\d{2} \d{1,2}:\d{2}:\d{2}([.,]\d+)?"
                r"(Z|[+-]\d{1,2}(:\d{2}){0,2})?$")
# mysql `timestamp` routes through strict RFC3339 after the dump's
# offset is appended (mysql/data.go:194-213): fixed 2-digit hour,
# '.' fraction only.
_MYSQL_TS_RE = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?$"


def _pg_timestamptz(c: Column, location: Optional[str] = None) -> Column:
    """D11 (postgres/data.go:204-234): try '...Z07' / '...Z07:00' zone
    formats, then zone-less interpreted in the dump's location — the
    ``SET timezone`` value captured by S9 (postgres/pgdump.go:409-431,
    ``conv.Location`` default UTC).

    Spark's string->timestamp cast already accepts all three shapes
    ('2019-10-28 15:00:00.123457+00', '+05:30', and naive), so a single
    cast covers the fallback chain — but the cast alone also accepts
    shapes every branch of the reference chain REJECTS ('T' separator,
    date-only, minute precision), so it is gated on the chain's
    combined grammar (_PG_TZ_TS_RE; seconds-precision offsets kept as
    a documented superset for LMT-era pg data). When a non-UTC
    location was captured, zone-less values (detected structurally —
    no trailing Z/offset after the time) are reinterpreted from that
    zone via to_utc_timestamp, which applies per-value DST rules
    exactly like Go's time.ParseInLocation; zone-carrying values are
    absolute instants and unaffected.
    """
    base = F.when(c.rlike(_PG_TZ_TS_RE), c.try_cast("timestamp")) \
        .otherwise(F.lit(None).cast("timestamp"))
    if not location or location.strip().lower() in _UTC_ZONES:
        return base
    zoned = c.rlike(_PG_ZONE_SUFFIX_RE)
    return F.when(zoned, base).otherwise(F.to_utc_timestamp(base, location))


def _pg_timestamp_naive(c: Column) -> Column:
    """timestamp without time zone: parse as UTC-naive
    (postgres/data.go:228-233). With the session timezone pinned to
    UTC, a plain cast gives exactly naive-as-UTC instants — gated on
    the reference's exact naive grammar, which notably REJECTS a zone
    suffix (the bare cast would silently SHIFT '...12+05' instead of
    quarantining it)."""
    return F.when(c.rlike(_GO_NAIVE_TS_RE), c.try_cast("timestamp")) \
        .otherwise(F.lit(None).cast("timestamp"))


def _mysql_timestamp(c: Column, offset: str) -> Column:
    """D12 (mysql/data.go:194-219): timestamp values are naive in the
    dump's TIME_ZONE (captured offset, default +00:00); append the
    offset and parse as an absolute instant.  Gated on the strict
    RFC3339 body shape the reference's parse enforces."""
    return F.when(c.rlike(_MYSQL_TS_RE),
                  F.concat(c, F.lit(offset)).try_cast("timestamp")) \
        .otherwise(F.lit(None).cast("timestamp"))


def _scalar_expr(c: Column, t: tt.Type, dialect: str,
                 tz_offset: str, src_type: str = "",
                 location: Optional[str] = None) -> Column:
    """The typed-value expression for one scalar column (D5-D12)."""
    if t.name == tt.BOOL:
        # ParseBool-exact literal set in both dialects — Spark's bare
        # boolean cast also accepts 'y'/'yes'/'n'/'no'/'tRuE', which
        # the reference quarantines.
        parsed = F.when(c.rlike(_GO_BOOL_RE), c.try_cast("boolean")) \
            .otherwise(F.lit(None).cast("boolean"))
        if dialect == "mysql":
            # MySQL represents bool as tinyint; any int in [-128,127]
            # converts as v != 0 (mysql/data.go:129-147).
            i = c.try_cast("long")
            return (F.when(i.isNotNull() & (i >= -128) & (i <= 127), i != 0)
                     .otherwise(parsed))
        return parsed
    if t.name == tt.BYTES:
        if dialect == "postgres":
            # pg dumps emit hex with a \x prefix (postgres/data.go:148-157)
            return F.when(c.startswith("\\x"),
                          F.unhex(c.substr(F.lit(3), F.length(c)))
                          ).otherwise(F.lit(None).cast("binary"))
        return c.try_cast("binary")
    if t.name == tt.DATE:
        # civil.ParseDate shape: the bare cast would accept partial
        # dates ('2024', '2024-1-2') the reference quarantines.
        return F.when(c.rlike(_GO_DATE_RE), c.try_cast("date")) \
            .otherwise(F.lit(None).cast("date"))
    if t.name == tt.FLOAT64:
        return c.try_cast("double")
    if t.name == tt.INT64:
        # strconv.ParseInt semantics: no decimal points, no floats
        # (Spark's string->long cast truncates '1.5' to 1 — guard it).
        return F.when(c.rlike(r"^[+-]?[0-9]+$"), c.try_cast("long")) \
                .otherwise(F.lit(None).cast("long"))
    if t.name == tt.NUMERIC:
        return c.try_cast(f"decimal({tt.NUMERIC_PRECISION},{tt.NUMERIC_SCALE})")
    if t.name == tt.TIMESTAMP:
        # mysql `timestamp` values are naive in the dump's TIME_ZONE ->
        # apply the captured offset; `datetime` is naive-UTC
        # (mysql/data.go:194-219). pg timestamptz routes through the
        # location-aware chain; pg plain `timestamp` is always naive-UTC
        # (postgres/data.go:224-233 uses time.Parse, not ParseInLocation).
        if dialect == "mysql":
            if src_type == "timestamp":
                return _mysql_timestamp(c, tz_offset)
            return _pg_timestamp_naive(c)
        if src_type in ("timestamp", "timestamp without time zone"):
            return _pg_timestamp_naive(c)
        return _pg_timestamptz(c, location)
    # STRING
    return c.cast("string")


def _cast_elem_col(x: Column, t: tt.Type, dialect: str,
                   tz_offset: str, location: Optional[str] = None) -> Column:
    """Column form of the scalar cast for array elements (D13 element
    semantics; shared by the JVM fast path and the strict Arrow
    path). ``location`` mirrors the scalar timestamptz chain — the
    reference's convArray feeds the same location into convTimestamp
    (postgres/data.go:242,282)."""
    if t.name == tt.BOOL:
        return F.when(x.rlike(_GO_BOOL_RE), x.try_cast("boolean")) \
            .otherwise(F.lit(None).cast("boolean"))
    if t.name == tt.BYTES:
        if dialect == "postgres":
            return (F.when(x.startswith("\\x"),
                           F.unhex(x.substr(F.lit(3), F.length(x))))
                    .otherwise(F.lit(None).cast("binary")))
        return x.try_cast("binary")
    if t.name == tt.DATE:
        return F.when(x.rlike(_GO_DATE_RE), x.try_cast("date")) \
            .otherwise(F.lit(None).cast("date"))
    if t.name == tt.FLOAT64:
        return x.try_cast("double")
    if t.name == tt.INT64:
        return (F.when(x.rlike(r"^[+-]?[0-9]+$"), x.try_cast("long"))
                .otherwise(F.lit(None).cast("long")))
    if t.name == tt.NUMERIC:
        return x.try_cast(
            f"decimal({tt.NUMERIC_PRECISION},{tt.NUMERIC_SCALE})")
    if t.name == tt.TIMESTAMP:
        if dialect == "mysql":
            return F.concat(x, F.lit(tz_offset)).try_cast("timestamp")
        return _pg_timestamptz(x, location)
    return x.cast("string")


def _pg_array_expr(name: str, elem: tt.Type, dialect: str,
                   tz_offset: str, location: Optional[str] = None
                   ) -> tuple[Column, Column]:
    """D13 (postgres/data.go:242-383): parse a pg array literal
    '{a,"b c",NULL}' into ARRAY<T>, tracking element conversion errors.

    Implemented with regexp tokenization + transform so it stays
    JVM-side. Handles: empty '{}', unquoted NULL elements,
    double-quoted elements with escaped quotes/backslashes AND quoted
    elements containing literal commas ('{"a,b",c}') — the tokenizer
    matches a full quoted token or a run of non-comma characters, so
    commas inside quotes never split (same coverage as the reference's
    recursive parser). A token that *starts* with a quote but is not a
    well-formed quoted token (unterminated quote) flags the row as an
    error instead of converting wrong. strict_pg_array_expr remains as
    the Arrow-batched exactness belt (strict_arrays=True).

    Built entirely with the Column API (no F.expr SQL strings), so the
    semantics cannot shift with spark.sql.parser.escapedStringLiterals
    — several dual-engine templates legitimately flip that conf in a
    shared session.

    Returns (value_expr, err_expr).
    """
    q = F.col(name)
    inner = q.substr(F.lit(2), F.length(q) - 2)
    # one token = quoted element (escapes allowed inside) or non-comma run
    raw = F.regexp_extract_all(
        inner, F.lit(r'"(?:[^"\\]|\\.)*"|[^,]+'), F.lit(0))
    nul = F.lit("\x00")

    def unescape(x: Column) -> Column:
        # park escaped backslashes on a NUL sentinel first (NUL cannot
        # appear in pg text), then unescape quotes, then restore
        body = x.substr(F.lit(2), F.length(x) - 2)
        body = F.replace(body, F.lit("\\\\"), nul)
        body = F.replace(body, F.lit('\\"'), F.lit('"'))
        return F.replace(body, nul, F.lit("\\"))

    def decode_tok(x: Column) -> Column:
        return (F.when(x == "NULL", F.lit(None).cast("string"))
                .when(x.rlike(r'^".*"$'), unescape(x))
                .otherwise(x))

    elems = F.transform(raw, decode_tok)
    elem_t = tt.Type(elem.name, elem.length)
    typed = F.transform(elems, lambda x: _cast_elem_col(
        x, elem_t, dialect, tz_offset, location))
    shaped = q.rlike(r"^\{.*\}$")
    value = (F.when(q.isNull(), F.lit(None))
             .when(shaped, typed)            # '{}' tokenizes to []
             .otherwise(F.lit(None)))
    # error: literal malformed, a token opens a quote without closing it
    # (the tokenizer would silently keep it raw), the tokens do not
    # re-assemble to the literal (catches junk the alternation would
    # silently split, e.g. '{"a"b}' -> 'a','b', or empty elements
    # '{a,,b}' — pg rejects both), or an element failed its cast (the
    # empty literal '{}' is valid, no elements to check)
    bad_quote = F.exists(
        raw, lambda x: x.rlike('^"') & ~x.rlike(r'^".*"$'))
    unconsumed = F.array_join(raw, ",") != inner
    err = (q.isNotNull() & (q != "{}")
           & (~shaped | bad_quote | unconsumed
              | F.exists(F.zip_with(elems, typed,
                                    lambda s, v: s.isNotNull() & v.isNull()),
                         lambda b: b)))
    return value, err


def parse_pg_array_literal(s: Optional[str]) -> Optional[list]:
    """Full-fidelity pg array literal parser (python mirror of
    convArray, postgres/data.go:242-398): handles quoted elements with
    embedded commas, escaped quotes/backslashes, unquoted NULL vs
    quoted "NULL". Returns a list of element strings (None = NULL
    element), or None for a malformed/NULL literal."""
    if s is None:
        return None
    s = s.strip()
    if not (s.startswith("{") and s.endswith("}")):
        return None
    body = s[1:-1]
    if body == "":
        return []
    out: list = []
    cur: list[str] = []
    i, n = 0, len(body)
    in_quote = False
    was_quoted = False
    while i <= n:
        ch = body[i] if i < n else ","  # virtual trailing comma
        if in_quote:
            if ch == "\\" and i + 1 < n:
                cur.append(body[i + 1])
                i += 1
            elif ch == '"':
                in_quote = False
            else:
                cur.append(ch)
        elif ch == '"':
            if cur or was_quoted:
                return None  # quote adjacent to token content: malformed
            in_quote = True
            was_quoted = True
        elif ch == ",":
            tok = "".join(cur)
            if was_quoted:
                out.append(tok)
            elif tok == "NULL":
                out.append(None)
            else:
                out.append(tok)
            cur = []
            was_quoted = False
        else:
            if was_quoted:
                return None  # junk after a closing quote: malformed
            cur.append(ch)
        i += 1
    if in_quote:
        return None  # unterminated quote: malformed
    return out


def strict_pg_array_expr(name: str, elem: tt.Type, dialect: str,
                         tz_offset: str, location: Optional[str] = None
                         ) -> tuple[Column, Column]:
    """Arrow-batched full-fidelity variant of _pg_array_expr: a pandas
    UDF tokenizes the literal (quoted commas included), then the same
    JVM-side element casts apply. Used when ``strict_arrays=True`` —
    the slow-but-exact path; the SQL fast path covers dump output
    without quoted commas."""
    from pyspark.sql.functions import pandas_udf

    # NOTE: no type annotations — `from __future__ import annotations`
    # stringifies them, which the pandas_udf signature inspector rejects
    @pandas_udf("array<string>")
    def tokenize(col):
        return col.map(parse_pg_array_literal)

    elem_t = tt.Type(elem.name, elem.length)
    toks = tokenize(F.col(name))
    value = F.transform(toks, lambda x: _cast_elem_col(
        x, elem_t, dialect, tz_offset, location))
    err = (F.col(name).isNotNull()
           & (toks.isNull()
              | F.exists(F.zip_with(toks, value,
                                    lambda s, v: s.isNotNull() & v.isNull()),
                         lambda b: b)))
    return value, err


def _mysql_set_expr(name: str) -> tuple[Column, Column]:
    """D14 (mysql/data.go:228-261): MySQL SET value -> ARRAY<STRING>."""
    c = F.col(name)
    return F.when(c.isNull(), F.lit(None).cast("array<string>")) \
            .otherwise(F.split(c, ",")), F.lit(False)


def plan_columns(ctx: MigrationContext, src_table: str,
                 dialect: str, strict_arrays: bool = False
                 ) -> list[ColumnPlan]:
    """Build the per-column conversion plan for one table (D1/D2).

    Input DataFrame contract: one STRING column per *source* column
    name (NULLs already decoded by the reader), optionally a SEQ_COL.
    """
    tgt_name = ctx.to_target[src_table]["name"]
    tgt: TargetTable = ctx.sp_schema[tgt_name]
    col_map = ctx.to_target[src_table]["cols"]
    tz = ctx.timezone_offset or "+00:00"
    location = ctx.location

    src_defs = ctx.src_schema[src_table].col_defs

    plans: list[ColumnPlan] = []
    for src_col, tgt_col in col_map.items():
        cd = tgt.col_defs[tgt_col]
        src_type = (src_defs[src_col].type.name.lower()
                    if src_col in src_defs else "")
        c = F.col(src_col)
        if cd.type.is_array:
            # location applies only to timestamptz elements, matching the
            # scalar chain (the reference passes srcTypeName through
            # convArray -> convTimestamp, postgres/data.go:282).
            elem_loc = (location if src_type.startswith("timestamptz")
                        or src_type.startswith("timestamp with time zone")
                        else None)
            if dialect == "mysql":
                expr, err = _mysql_set_expr(src_col)
            elif strict_arrays:
                elem = tt.Type(cd.type.name, cd.type.length)
                expr, err = strict_pg_array_expr(src_col, elem, dialect, tz,
                                                 elem_loc)
            else:
                elem = tt.Type(cd.type.name, cd.type.length)
                expr, err = _pg_array_expr(src_col, elem, dialect, tz,
                                           elem_loc)
        else:
            expr = _scalar_expr(c, cd.type, dialect, tz, src_type, location)
            if cd.type.name == tt.STRING:
                err = F.lit(False)
            else:
                # covers malformed hex for pg bytea too (unhex -> NULL)
                err = c.isNotNull() & expr.isNull()
        plans.append(ColumnPlan(tgt_col, expr, err))
    return plans


def _bit_reverse_sql(col_sql: str) -> str:
    """bits.Reverse64 as a JVM expression (T14, postgres/data.go:99-104):
    reverse the 64-bit pattern of a non-negative sequence number,
    reinterpreted as a signed long (negative for odd sequences, exactly
    like storing Go's uint64 bit pattern in an int64 key). Spreads
    sequential inserts across the target key space."""
    return ("aggregate(sequence(0, 63), 0L, (acc, i) -> "
            f"acc + shiftleft(shiftright({col_sql}, i) & 1L, "
            "CAST(63 - i AS INT)))")


def bit_reverse64(col_name: str) -> Column:
    """Column form of the bit-reversed synthetic-key expression."""
    return F.expr(_bit_reverse_sql(col_name))


class ConversionResult:
    """One table's conversion: ``good`` (typed target columns) and
    ``bad`` (source string columns + ERRS_COL, the failing columns),
    their row Observations (A1/A8; ``obs_all`` holds the pre-split
    totals: rows + bad_rows), and ``pre``, the relation both rails are
    cut from: typed target columns + ERRS_COL + SRC_COL (the source
    row, set only on bad rows).  Row writers take ``pre`` whole and
    split bad rows off inside their partition loop, so a table
    converts once per sink.

    ``splits`` is the input split count the conversion runs as and
    ``input_bytes`` the bytes it reads, when the source knows them
    from its file sizes or byte ranges (None: unknown).

    A ``deferred`` result builds its plan — the six fields above — on
    first access, on whichever thread touches it first, so a caller
    can build each table's plan on the thread that writes it.  The
    precondition: a plan build touches no temp view, no session conf
    and no ``ctx`` state beyond reading the table's schema, and parses
    no SQL text whose meaning a session conf can change; then builds
    can run concurrently with each other and with other tables'
    writes, and their plans do not depend on when or where they ran.
    Every ``ctx`` write of the data pass stays in the source's driver
    pass.
    """

    _PLAN = ("good", "bad", "obs_good", "obs_bad", "obs_all", "pre")

    def __init__(self, good: Optional[DataFrame] = None,
                 bad: Optional[DataFrame] = None,
                 obs_good: "object" = None, obs_bad: "object" = None,
                 obs_all: "object" = None,
                 pre: Optional[DataFrame] = None,
                 splits: Optional[int] = None,
                 input_bytes: Optional[int] = None) -> None:
        self.good, self.bad, self.pre = good, bad, pre
        self.obs_good, self.obs_bad, self.obs_all = \
            obs_good, obs_bad, obs_all
        self.splits, self.input_bytes = splits, input_bytes

    @classmethod
    def deferred(cls, build: Callable[[], "ConversionResult"],
                 splits: Optional[int] = None,
                 input_bytes: Optional[int] = None) -> "ConversionResult":
        """A result whose plan fields come from ``build()``, called
        once, on first access."""
        self = cls.__new__(cls)
        self.splits, self.input_bytes = splits, input_bytes
        self._build, self._lock = build, threading.Lock()
        return self

    def __getattr__(self, name: str):
        # reached only for a plan field a deferred result has not built
        build = self.__dict__.get("_build")
        if build is None or name not in self._PLAN:
            raise AttributeError(name)
        with self._lock:
            if name not in self.__dict__:
                built = build()
                for f in self._PLAN:
                    setattr(self, f, getattr(built, f))
        return self.__dict__[name]

    def bad_count_from_good_pass(self) -> "Optional[int]":
        """Bad-row count harvested from the observation the GOOD
        write fired (obs_all sits above the split), so a sink can
        learn whether it needs a bad-row pass at all without running
        one.  None when no good action has run yet would block — the
        caller must have acted on `good` first."""
        if self.obs_all is None:
            return None
        return self.obs_all.get["bad_rows"] or 0

    def record_stats(self, ctx: MigrationContext, src_table: str,
                     good_n: "Optional[int]" = None,
                     bad_n: "Optional[int]" = None) -> None:
        """Harvest observe() counters into ctx stats after the caller
        has run an action on both frames (A1, internal/convert.go:310-330;
        replaces the reference's per-row counters with zero-extra-job
        Spark observations).

        Pass explicit counts when the sink ran an RDD-level action
        (e.g. foreachPartition in the batch writer): those do not fire
        the SQL CollectMetrics listener, so Observation.get would block
        forever waiting for it.
        """
        if good_n is None:
            good_n = self.obs_good.get["rows"] if self.obs_good else None
        if bad_n is None:
            bad_n = self.obs_bad.get["rows"] if self.obs_bad else None
        if good_n is not None:
            ctx.stats_add_good_row(src_table, good_n)
        if bad_n is not None:
            ctx.stats_add_bad_row(src_table, bad_n)
        existing = ctx.table_stats.get(src_table)
        if existing is None or existing.rows == 0:
            ctx.stats_add_row(src_table, (good_n or 0) + (bad_n or 0))


def _assemble_result(ctx: MigrationContext, df: DataFrame,
                     plans: list[ColumnPlan], src_table: str
                     ) -> ConversionResult:
    """Shared tail of the converters: error-array split (D17),
    synthetic PK (T14), and row observations (A1/A8).  ``good`` and
    ``bad`` are both cut from one relation, ``pre``."""
    from pyspark.sql import Observation

    tgt_name = ctx.to_target[src_table]["name"]
    errs = F.array(*[
        F.when(p.err, F.lit(p.target_col)).otherwise(F.lit(None))
        for p in plans])
    errs = F.filter(errs, lambda x: x.isNotNull())
    with_errs = df.withColumn(ERRS_COL, errs)

    cols = [p.expr.alias(p.target_col) for p in plans]
    synth = ctx.synthetic_pkeys.get(tgt_name)
    if synth is not None:
        if SEQ_COL not in df.columns:
            raise ValueError(
                f"table {src_table}: synthetic key requires {SEQ_COL}")
        cols.append(
            F.expr(_bit_reverse_sql(SEQ_COL)).alias(synth.col))
    tgt_cols = [c.target_col for c in plans] + (
        [synth.col] if synth is not None else [])
    is_bad = F.size(ERRS_COL) > 0
    pre = with_errs.select(
        *cols, ERRS_COL,
        F.when(is_bad, F.struct(*[with_errs[c] for c in df.columns]))
        .alias(SRC_COL))

    obs_good, obs_bad, obs_all = Observation(), Observation(), \
        Observation()
    # obs_all sits ABOVE the good/bad split on the good rail: any
    # action on `good` (the table write) reports BOTH the total and
    # the bad-row count in that same single pass, so a clean table
    # never pays a second full conversion scan just to learn it had
    # zero bad rows (the r10 ingest-rehearsal cliff: the CLI ran the
    # whole conversion twice per table).  Catalyst does not push the
    # split filter through CollectMetrics, so the counts see every
    # row.
    good = (pre
            .observe(obs_all, F.count(F.lit(1)).alias("rows"),
                     F.sum(is_bad.cast("long")).alias("bad_rows"))
            .where(~is_bad)
            .select(*tgt_cols)
            .observe(obs_good, F.count(F.lit(1)).alias("rows")))
    bad = (pre.where(is_bad).select(f"{SRC_COL}.*", ERRS_COL)
           .observe(obs_bad, F.count(F.lit(1)).alias("rows")))
    return ConversionResult(good=good, bad=bad,
                            obs_good=obs_good, obs_bad=obs_bad,
                            obs_all=obs_all, pre=pre)


def convert_table(ctx: MigrationContext, df: DataFrame, src_table: str,
                  dialect: str, strict_arrays: bool = False
                  ) -> ConversionResult:
    """Convert one table's string DataFrame into its typed target shape,
    splitting off bad rows (D17). Appends the synthetic PK when the
    table has one (requires SEQ_COL in the input for determinism).

    Both output frames carry an Observation counting their rows — the
    progress/row-stats analogue (A1/A8) that piggybacks on whatever
    action the sink runs, instead of extra count() jobs.
    """
    plans = plan_columns(ctx, src_table, dialect, strict_arrays)
    return _assemble_result(ctx, df, plans, src_table)


def _spark_type_sql(t: tt.Type) -> str:
    base = {
        tt.BOOL: "boolean", tt.BYTES: "binary", tt.DATE: "date",
        tt.FLOAT64: "double", tt.INT64: "long",
        tt.NUMERIC: f"decimal({tt.NUMERIC_PRECISION},{tt.NUMERIC_SCALE})",
        tt.TIMESTAMP: "timestamp", tt.STRING: "string",
    }[t.name]
    return f"array<{base}>" if t.is_array else base


def convert_typed_table(ctx: MigrationContext, df: DataFrame,
                        src_table: str) -> ConversionResult:
    """D3 (postgres/infoschema.go:76-126 ProcessSQLData): convert a
    TYPED DataFrame — the shape a JDBC scan produces — into the target
    schema. Unlike the dump converters, values arrive already typed by
    the source database, so only residual casts remain (e.g. INT ->
    INT64 widening, NUMERIC rescale, VARCHAR -> STRING); a non-NULL
    value whose residual cast fails quarantines the row exactly like
    the string path (internal/convert.go:228-249 semantics)."""
    col_map = ctx.to_target[src_table]["cols"]
    tgt = ctx.sp_schema[ctx.to_target[src_table]["name"]]
    # JDBC sources may fold identifier case (Derby/pg uppercase/lower);
    # map source columns case-insensitively like resolve_refs (T12)
    by_lower = {c.lower(): c for c in df.columns}
    plans: list[ColumnPlan] = []
    for src_col, tgt_col in col_map.items():
        actual = by_lower.get(src_col.lower(), src_col)
        c = F.col(actual)
        cd = tgt.col_defs[tgt_col]
        expr = c.try_cast(_spark_type_sql(cd.type))
        if cd.type.name == tt.STRING and not cd.type.is_array:
            err = F.lit(False)
        else:
            err = c.isNotNull() & expr.isNull()
        plans.append(ColumnPlan(tgt_col, expr, err))
    return _assemble_result(ctx, df, plans, src_table)
