#!/usr/bin/env python
"""Audit registry plans for the collapsed-projection-into-lambda
pathology (NOTES_DEV r12, the corrected 'bind before lambdas'
lesson): Catalyst inlines single-reference projections into
transform()/aggregate() lambda bodies and into per-element/
per-position consumers, so an expensive expression like
split(trim(lower(text))) silently re-evaluates PER ELEMENT —
O(tokens^2) per document (found on dsir_importance: 2.9x after the
fix).

For every registry entry this walks the OPTIMIZED logical plan text
and reports expensive calls (split/regexp_extract_all/md5 over a
column expression) that appear INSIDE a lambdafunction(...) body or
appear with suspicious multiplicity.  Entries whose fn EXECUTES jobs
at build time (localCheckpoint/collect strategies — dsir, k-means,
the materialized dedup chain) cannot be analyzed without running
that work; the audit runs them at sf0.001 (cheap), DETECTS the
build-time jobs via the status tracker (above the 1-2 parquet
schema-inference jobs every template entry fires), and flags each
such entry with MATERIALIZES-AT-BUILD — the checkpoint that makes
them materialize is itself the lambda fix, and the final plan is
still audited for post-checkpoint lambdas.

Usage: python tools/lambda_audit.py [entry ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

EXPENSIVE = re.compile(r"\b(split|regexp_extract_all|md5|"
                       r"regexp_replace)\(")


def lambda_spans(plan: str) -> list[str]:
    """Extract every lambdafunction(...) body via paren matching."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            i += 1
        out.append(plan[m.end():i - 1])
    return out


def main(argv: list[str]) -> int:
    from pyspark.sql import SparkSession

    from harbourbridge_spark import queries as Q
    from harbourbridge_spark.confscope import apply_recommended

    spark = (apply_recommended(SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    names = argv or list(Q.REGISTRY)
    sc = spark.sparkContext
    hits = {}
    n_materializing = 0
    for name in names:
        spec = Q.REGISTRY.get(name)
        if spec is None:
            continue
        # build inside a job group: any job the group runs means the
        # fn materializes at build time (checkpoint/collect strategy)
        group = f"lambda-audit:{name}"
        sc.setJobGroup(group, group)
        try:
            df = spec.fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as err:                # noqa: BLE001
            print(f"?? {name}: {type(err).__name__}", file=sys.stderr)
            continue
        finally:
            sc.setJobGroup("", "")
        built_jobs = sc.statusTracker().getJobIdsForGroup(group)
        # 1-2 jobs = parquet schema-inference footer reads (every
        # template entry fires those); more means the fn executed
        # real work at build (localCheckpoint/collect strategy)
        if len(built_jobs) > 2:
            n_materializing += 1
            print(f"MATERIALIZES-AT-BUILD {name}: "
                  f"{len(built_jobs)} jobs ran during build "
                  "(checkpoint strategy — the fix itself); final "
                  "plan audited below")
        bad = []
        for body in lambda_spans(plan):
            for em in EXPENSIVE.finditer(body):
                bad.append(em.group(1))
        if bad:
            hits[name] = sorted(set(bad))
            print(f"LAMBDA-INLINED {name}: {sorted(set(bad))}")
    print(f"\n{len(hits)} entries with expensive calls inside "
          f"lambda bodies; {n_materializing} entries materialize "
          "at build time")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
