"""Sinks (SURVEY §2.2): parquet/catalog writers and the batched,
error-isolating writer.

- ``parquet``       primary sink: migrated tables as parquet/catalog
                    tables (what the correctness oracle queries)
- ``batch_writer``  K1/K2: size-bounded batches inside foreachPartition
                    with recursive bisection to isolate bad rows
"""

from .parquet import write_table, write_bad_data  # noqa: F401
from .batch_writer import (BatchWriterConfig,  # noqa: F401
                           write_rows_locally, write_with_batching)
from .dbapi_writer import (DbApiInsertWriter,  # noqa: F401
                           write_table_dbapi)
from .jdbc_writer import JdbcBatchWriter, JdbcWriteError  # noqa: F401
from .sqlite_writer import sqlite_ddl, write_table_to_sqlite  # noqa: F401
