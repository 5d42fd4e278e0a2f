"""Concrete K1 write target: batched INSERTs into a SQLite database.

The reference's BatchWriter drives real Spanner mutation RPCs
(/root/reference/spanner/batchwriter.go:291-317); this module is the
in-container equivalent endpoint so batching + retry-splitting (K1/K2,
sink/batch_writer.py) is proven against a *real* error-raising writer,
not only the injected-closure test seam:

- real connections from executor-side Python workers (SQLite handles
  cross-process writers with file locking + busy timeout);
- real constraint errors: a PRIMARY KEY / NOT NULL violation raises
  sqlite3.IntegrityError, which the bisection path must isolate down
  to the single offending row;
- per-batch transactions: each batch commits atomically (the analogue
  of one Spanner mutation group), so a failed batch leaves no partial
  rows and retry-splitting re-attempts a clean sub-batch.

The inserts run through the generic DB-API writer
(``sink/dbapi_writer``) with a sqlite connect factory; swapping in a
production endpoint means passing its connect factory instead — the
batching machinery is unchanged.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal

from .. import types as tt
from ..context import MigrationContext

# target type -> sqlite column affinity
_SQLITE_TYPES = {
    tt.INT64: "INTEGER",
    tt.FLOAT64: "REAL",
    tt.NUMERIC: "NUMERIC",
    tt.BOOL: "INTEGER",
    tt.BYTES: "BLOB",
    tt.STRING: "TEXT",
    tt.DATE: "TEXT",
    tt.TIMESTAMP: "TEXT",
}


def sqlite_ddl(ctx: MigrationContext, tgt_table: str) -> str:
    """CREATE TABLE statement for a converted target table (K3 for the
    sqlite stand-in): typed columns, NOT NULL, PRIMARY KEY."""
    t = ctx.sp_schema[tgt_table]
    cols = []
    for name in t.col_names:
        cd = t.col_defs[name]
        ty = _SQLITE_TYPES.get(cd.type.name, "TEXT")
        nn = " NOT NULL" if cd.not_null else ""
        cols.append(f'"{name}" {ty}{nn}')
    pk = t.pk_cols()
    if pk:
        cols.append("PRIMARY KEY (" + ", ".join(f'"{c}"' for c in pk) + ")")
    return f'CREATE TABLE IF NOT EXISTS "{tgt_table}" (\n    ' + \
        ",\n    ".join(cols) + "\n)"


def _adapt(v):
    """SQLite-storable rendering of a Spark row value."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) \
            else v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        # ARRAY columns land as JSON-ish text (sqlite has no arrays)
        import json
        return json.dumps(list(v))
    return v


def write_table_to_sqlite(ctx: MigrationContext, df, tgt_table: str,
                          db_path: str, config=None):
    """End-to-end K1 against the sqlite endpoint: create the table from
    the converted schema, then run the DB-API batching+bisection
    writer over the DataFrame. Returns WriteStats."""
    from .dbapi_writer import SqliteConnectFactory, write_table_dbapi
    return write_table_dbapi(
        df, SqliteConnectFactory(db_path), tgt_table,
        list(ctx.sp_schema[tgt_table].col_names),
        ddl=sqlite_ddl(ctx, tgt_table), config=config)
