"""Executor-side DB-API batch writer: the production path for writing
to a database SERVER from every Spark executor, pure Python (no py4j,
which only exists on the driver — see jdbc_writer.py).

Any PEP 249 driver works through a picklable ``connect_factory``: for
PostgreSQL e.g. ``pg8000.connect``/``psycopg.connect`` wrapped with
their parameters, for Cloud Spanner the ``google-cloud-spanner``
DB-API, for local tests sqlite3.  The factory is shipped to executors
by pickle, each batch runs as one transaction
(``executemany`` + commit, rollback on any error), and failures raise
into ``write_with_batching``'s bisection loop — so a single bad row is
isolated and dropped with the same semantics as the reference's
Spanner mutation writer (/root/reference/spanner/batchwriter.go:248-280:
a batch commits whole or fails whole; failures re-split down to single
rows).

Scale notes: one connection per batch, not per row — at the default
10k-row/20 MB batch cuts the connect overhead is amortized to noise,
and per-batch connections keep the callable stateless/picklable and
robust to executor churn.  The number of concurrent writers equals the
DataFrame's partition count: ``df.repartition(n)`` before the write IS
the server-side connection-pool knob.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from .sqlite_writer import _adapt

_PARAM_TOKENS = {"qmark": "?", "format": "%s"}


@dataclass
class SqliteConnectFactory:
    """Reference connect factory: a picklable zero-arg callable
    returning a fresh DB-API connection — the shape every endpoint
    needs (for a server DB, the analogue wraps host/port/credentials
    and calls the driver's connect()).  sqlite3 here doubles as the
    e2e test endpoint; busy_timeout covers cross-process lock
    contention between concurrent executor tasks."""

    db_path: str
    timeout_s: float = 30.0

    def __call__(self):
        import sqlite3
        con = sqlite3.connect(self.db_path, timeout=self.timeout_s)
        con.execute(f"PRAGMA busy_timeout = {int(self.timeout_s * 1000)}")
        return con


@dataclass
class DbApiInsertWriter:
    """Picklable executor-side insert callable for write_with_batching.

    ``connect_factory``: zero-arg picklable callable returning a fresh
    PEP 249 connection (a module-level function, functools.partial of
    one, or a small dataclass with ``__call__``).
    ``paramstyle``: the driver's placeholder style ('qmark' for
    sqlite3, 'format' for pg8000/psycopg; 'numeric' renders :1..:n).
    The batching loop adapts each row once through ``prepare`` and
    calls the writer with adapted rows, so a bisecting retry never
    re-adapts them.
    """

    connect_factory: Callable[[], object]
    table: str
    columns: list = field(default_factory=list)
    paramstyle: str = "qmark"

    def _sql(self) -> str:
        cols = ", ".join(f'"{c}"' for c in self.columns)
        if self.paramstyle == "numeric":
            qs = ", ".join(f":{i + 1}" for i in range(len(self.columns)))
        else:
            tok = _PARAM_TOKENS[self.paramstyle]
            qs = ", ".join(tok for _ in self.columns)
        return f'INSERT INTO "{self.table}" ({cols}) VALUES ({qs})'

    @staticmethod
    def prepare(row) -> tuple:
        return tuple(map(_adapt, row))

    def __call__(self, rows: list) -> None:
        con = self.connect_factory()
        try:
            cur = con.cursor()
            cur.executemany(self._sql(), rows)
            con.commit()
        except Exception:
            try:
                con.rollback()
            except Exception:
                pass  # connection already dead; the raise below rules
            raise
        finally:
            con.close()


def write_table_dbapi(df, connect_factory: Callable[[], object],
                      table: str, columns: list,
                      paramstyle: str = "qmark",
                      ddl: Optional[str] = None,
                      config=None):
    """End-to-end K1/K2 against any DB-API endpoint: optionally create
    the table (one driver-side connection), then run the distributed
    batching+bisection writer over every partition.  Returns
    WriteStats (rows_written / rows_dropped / retries / samples /
    errors — accumulator-fed, same shape as the sqlite and Derby
    paths).  Given a conversion's pre-split relation, rows that failed
    conversion are counted and sampled inside the same pass
    (WriteStats.rows_bad / bad_samples)."""
    from .batch_writer import quarantine_select, write_with_batching

    if ddl is not None:
        con = connect_factory()
        try:
            cur = con.cursor()
            cur.execute(ddl)
            con.commit()
        finally:
            con.close()
    writer = DbApiInsertWriter(connect_factory, table, list(columns),
                               paramstyle)
    rows, quarantine = quarantine_select(df, columns)
    return write_with_batching(rows, writer, config, quarantine)
