"""Atomic executemany-style JDBC batch writer (K1/K2 against a real
JDBC endpoint).

``JdbcBatchWriter`` drives a ``java.sql.PreparedStatement`` through
the Spark JVM's py4j gateway: one ``addBatch`` per row, a single
``executeBatch`` inside a transaction, ``commit`` on success and
``rollback`` on any SQLException — so a failing batch leaves NO
partial state.  That is the Spanner-mutation-atomicity shape the
reference's bisection protocol assumes
(/root/reference/spanner/batchwriter.go:248-280: a batch either
commits whole or fails whole, and the writer re-splits failures down
to single rows).

A py4j gateway lives in the driver process only, so this writer pairs
with ``batch_writer.write_rows_locally`` (the same batching+bisection
loop foreachPartition runs, executed driver-side).  **This module is
the TEST endpoint for JDBC-shaped errors** — Derby raises
java.sql.BatchUpdateException wrapping
SQLIntegrityConstraintViolationException, which surfaces here as
``JdbcWriteError`` and feeds the real bisection path — and is
driver-local by construction.  The PRODUCTION executor-side path for
server databases is ``dbapi_writer``: any PEP 249 driver (pg8000 /
psycopg / the Cloud Spanner DB-API) runs distributed via
foreachPartition with identical batching+bisection semantics; the
distributed loop is additionally e2e-proven against sqlite3 in
``sqlite_writer``.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Sequence

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# Target scalar -> Derby column type (K3 for the JDBC endpoint).
# VARCHAR capped at Derby's 32672 limit; NUMERIC at its max precision
# 31 (vs the target's 38,9 — documented narrowing for this endpoint).
DERBY_TYPES = {
    "BOOL": "BOOLEAN",
    "INT64": "BIGINT",
    "FLOAT64": "DOUBLE",
    "STRING": "VARCHAR(32672)",
    "BYTES": "BLOB",
    "DATE": "DATE",
    "TIMESTAMP": "TIMESTAMP",
    "NUMERIC": "DECIMAL(31, 9)",
}


def derby_ddl(ctx, tgt_table: str) -> str:
    """CREATE TABLE statement for a converted target table, Derby
    dialect: typed columns, NOT NULL, PRIMARY KEY."""
    t = ctx.sp_schema[tgt_table]
    cols = []
    for name in t.col_names:
        cd = t.col_defs[name]
        base = DERBY_TYPES.get(cd.type.name, "VARCHAR(32672)")
        if cd.type.is_array:
            base = "VARCHAR(32672)"     # arrays land as JSON text
        nn = " NOT NULL" if cd.not_null else ""
        cols.append(f'"{name}" {base}{nn}')
    pk = t.pk_cols()
    if pk:
        cols.append("PRIMARY KEY (" + ", ".join(f'"{c}"' for c in pk)
                    + ")")
    return f'CREATE TABLE "{tgt_table}" (\n    ' + \
        ",\n    ".join(cols) + "\n)"


class JdbcWriteError(Exception):
    """A JDBC batch failed (and was rolled back)."""


class JdbcBatchWriter:
    """write(rows) callable over a JDBC endpoint via the Spark JVM.

    Parameters
    ----------
    spark: SparkSession (driver-side; supplies the py4j gateway)
    url: JDBC url, e.g. ``jdbc:derby:/tmp/db;create=true``
    table: qualified table name to INSERT into
    columns: column names, in row-tuple order
    driver: JDBC driver class to load (default embedded Derby, which
        ships with Spark for the Hive metastore)
    """

    def __init__(self, spark, url: str, table: str,
                 columns: Sequence[str], driver: str = DERBY_DRIVER):
        self._jvm = spark._jvm
        self._url = url
        self._sql = "INSERT INTO {} ({}) VALUES ({})".format(
            table, ", ".join(columns), ", ".join(["?"] * len(columns)))
        # DriverManager only sees drivers registered in the JVM;
        # Class.forName triggers the embedded driver's static
        # registration (idempotent).
        self._jvm.java.lang.Class.forName(driver)

    def _jdbc_value(self, v):
        """py4j-transportable rendering: py4j auto-converts
        int/float/str/bool/bytes, but Decimal/date/datetime need
        explicit java.sql / java.math objects, and lists land as JSON
        text (no array columns on this endpoint)."""
        jvm = self._jvm
        if isinstance(v, _decimal.Decimal):
            return jvm.java.math.BigDecimal(str(v))
        if isinstance(v, _dt.datetime):
            return jvm.java.sql.Timestamp.valueOf(
                v.strftime("%Y-%m-%d %H:%M:%S")
                + f".{v.microsecond:06d}")
        if isinstance(v, _dt.date):
            return jvm.java.sql.Date.valueOf(v.isoformat())
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, (list, tuple)):
            import json
            return json.dumps(list(v))
        return v

    def __call__(self, rows: list) -> None:
        conn = self._jvm.java.sql.DriverManager.getConnection(self._url)
        try:
            conn.setAutoCommit(False)
            ps = conn.prepareStatement(self._sql)
            try:
                for row in rows:
                    for i, v in enumerate(row):
                        ps.setObject(i + 1, self._jdbc_value(v))
                    ps.addBatch()
                ps.executeBatch()
                conn.commit()
            except Exception as e:  # py4j Py4JJavaError wrapping SQLException
                conn.rollback()
                raise JdbcWriteError(str(e)[:500]) from None
            finally:
                ps.close()
        finally:
            conn.close()

    def count(self, table: str) -> int:
        """Row count via plain JDBC (verification helper)."""
        conn = self._jvm.java.sql.DriverManager.getConnection(self._url)
        try:
            st = conn.createStatement()
            rs = st.executeQuery(f"SELECT COUNT(*) FROM {table}")
            rs.next()
            return rs.getLong(1)
        finally:
            conn.close()


def write_table_to_derby(spark, ctx, df, tgt_table: str, db_dir: str,
                         config=None):
    """End-to-end K1/K2 against the embedded-Derby JDBC endpoint:
    create the table from the converted schema (derby_ddl), then run
    the batching+bisection loop DRIVER-SIDE over a streaming
    toLocalIterator of the DataFrame (constant driver memory; the
    py4j-backed writer cannot run on executors — see JdbcBatchWriter).
    Returns WriteStats, same shape as write_table_to_sqlite (a
    conversion's pre-split relation is split there too)."""
    from .batch_writer import quarantine_select, write_rows_locally

    url = f"jdbc:derby:{db_dir};create=true"
    cols = list(ctx.sp_schema[tgt_table].col_names)
    writer = JdbcBatchWriter(spark, url, f'"{tgt_table}"',
                             [f'"{c}"' for c in cols])
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.execute(derby_ddl(ctx, tgt_table))
        except Exception as e:
            # Derby has no IF NOT EXISTS; tolerate exactly the
            # already-exists SQLState (X0Y32), surface anything else
            if "X0Y32" not in str(e) and "already exists" not in str(e):
                raise JdbcWriteError(f"create table failed: "
                                     f"{str(e)[:400]}") from None
    finally:
        conn.close()
    rows, quarantine = quarantine_select(df, cols)
    return write_rows_locally((tuple(r) for r in rows.toLocalIterator()),
                              writer, config, quarantine)
