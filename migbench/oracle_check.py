"""One-off check of the near-dup chain against its DuckDB oracle.

    python3 migbench/oracle_check.py --seed 1 --docs 800

Builds a small corpus with the benchmark's generator, runs the chain
the neardup_corpus workload runs, and compares the removal manifest
with ``dedup_removal_manifest_oracle_sql`` evaluated by DuckDB.  The
oracle's recursive closure is quadratic per component, so it runs on a
small corpus only, never inside the timed benchmark.  Exits 0 when the
two manifests are equal.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--docs", type=int, default=800)
    a = p.parse_args()
    sys.path[:0] = [HERE, ROOT]
    import duckdb

    import gen
    import run
    from harbourbridge_spark.pipeline import dedup as D

    work = os.path.join(run.WORK, f"oracle-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        truth = gen.build_corpus(
            os.path.join(work, "corpus"), a.seed, docs=a.docs,
            clusters=a.docs // 15, chains=a.docs // 100)
        spark = run.start_session(work)
        try:
            out = os.path.join(work, "out")
            res = run.run_neardup(spark, truth, out, run.NoTrace())
            n_pairs = res["pairs"].count()
        finally:
            run.stop_session(spark)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{truth['input']}')")
        want = set(con.execute(
            D.dedup_removal_manifest_oracle_sql()).fetchall())
        got = set(con.execute(
            f"SELECT doc_id, cluster_id, keep FROM read_parquet("
            f"'{out}/manifest.parquet/*.parquet')").fetchall())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    dropped = sum(1 for r in got if not r[2])
    print(f"docs={truth['docs']} verified_pairs={n_pairs} "
          f"dropped={dropped} oracle_rows={len(want)} "
          f"equal={got == want}")
    return 0 if got == want else 1


if __name__ == "__main__":
    sys.exit(main())
