"""Parquet/catalog sink: the primary target for migrated tables.

The reference writes to Cloud Spanner (spanner/batchwriter.go); our
primary target is a Spark-managed table (parquet). Interleave metadata
(TargetTable.parent) maps to its physical analogue: repartition +
sort by the parent key so parent/child rows co-locate
(T15's clustering rationale, web/web.go:474-507).

Scale notes: writes are shuffle-free unless interleave co-partitioning
is requested; partition count follows the input (AQE coalesces small
outputs). For very large tables pass ``partition_by`` (e.g. a date
column) to get partition pruning on downstream reads.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..context import MigrationContext
from ..convert import ERRS_COL


def write_table(ctx: MigrationContext, df: DataFrame, target_table: str,
                path: str, mode: str = "overwrite",
                partition_by: Optional[list[str]] = None,
                co_partition_interleaved: bool = True,
                num_buckets: Optional[int] = None) -> None:
    """Write one migrated table. If the table is interleaved in a parent
    (ctx.sp_schema[t].parent), co-partition on the parent-key prefix so
    children cluster with parents — the Spark analogue of INTERLEAVE IN
    PARENT's physical row clustering."""
    tgt = ctx.sp_schema.get(target_table)
    writer_df = df
    if tgt is not None and tgt.parent and co_partition_interleaved:
        parent = ctx.sp_schema[tgt.parent]
        prefix = [k.col for k in parent.pks]
        if all(c in df.columns for c in prefix):
            writer_df = (df.repartition(*prefix)
                         .sortWithinPartitions(*[k.col for k in tgt.pks]))
    w = writer_df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if num_buckets and tgt is not None and tgt.pks:
        # bucketing by PK enables shuffle-free joins between co-bucketed
        # tables (requires saveAsTable; path used as table location)
        (w.bucketBy(num_buckets, *[k.col for k in tgt.pks])
          .sortBy(*[k.col for k in tgt.pks])
          .option("path", path)
          .saveAsTable(target_table))
        return
    w.parquet(path)


def create_database(spark, ctx: MigrationContext, db_name: str,
                    location: Optional[str] = None,
                    skip_foreign_keys: bool = False) -> None:
    """K3/K4 (conversion/conversion.go:412-480): create the target
    catalog database + empty tables from the converted schema.

    Spark has no FK/constraint DDL, so (mirroring the reference's
    two-phase create-then-ALTER protocol) constraints land as table
    properties after creation: primary_keys / foreign_keys / indexes /
    interleave_parent as JSON, queryable by downstream tooling and by
    the uniqueness-validation queries.
    """
    import json as _json

    loc = f" LOCATION '{location}/{db_name}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db_name}{loc}")
    for name, tgt in ctx.sp_schema.items():
        cols = ", ".join(
            f"`{cn}` {tgt.col_defs[cn].type.to_spark().simpleString()}"
            + (" NOT NULL" if tgt.col_defs[cn].not_null else "")
            for cn in tgt.col_names)
        spark.sql(f"CREATE TABLE IF NOT EXISTS {db_name}.`{name}` "
                  f"({cols}) USING PARQUET")
        props = {
            "primary_keys": _json.dumps(
                [[k.col, k.desc] for k in tgt.pks]),
            "indexes": _json.dumps(
                [{"name": i.name, "unique": i.unique,
                  "keys": [[k.col, k.desc] for k in i.keys]}
                 for i in tgt.indexes]),
        }
        if tgt.parent:
            props["interleave_parent"] = tgt.parent
        if not skip_foreign_keys:
            # post-data FK install analogue (K4): properties applied
            # via ALTER after the table exists
            props["foreign_keys"] = _json.dumps(
                [{"name": fk.name, "columns": fk.columns,
                  "refer_table": fk.refer_table,
                  "refer_columns": fk.refer_columns}
                 for fk in tgt.fks])
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
        spark.sql(f"ALTER TABLE {db_name}.`{name}` SET TBLPROPERTIES ({kv})")


def write_bad_data(bad, path: str, max_rows: int = 100) -> int:
    """K7 (conversion/conversion.go:661-706): write up to ``max_rows``
    sample bad rows (with their failing-column list) to a text file.
    ``bad`` is a DataFrame of bad rows (one ``limit`` job), or sample
    rows a row writer already collected in its write pass (dicts:
    source columns + ERRS_COL; no Spark job).  Returns the number of
    rows written."""
    if isinstance(bad, DataFrame):
        rows = [r.asDict() for r in bad.limit(max_rows).collect()]
    else:
        rows = [dict(r) for r in bad[:max_rows]]
    with open(path, "w", encoding="utf-8") as f:
        f.write("Bad rows (failing columns | source values)\n")
        f.write("-" * 60 + "\n")
        for d in rows:
            errs = d.pop(ERRS_COL, [])
            d.pop("_hb_seq", None)
            f.write(f"cols={','.join(errs)} | {d}\n")
    return len(rows)
