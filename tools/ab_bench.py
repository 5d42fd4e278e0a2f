#!/usr/bin/env python
"""Back-to-back A/B drift adjudication (the r7->r8 exoneration
protocol, promoted to a tool per VERDICT r10 ask 2).

Times the SAME oracle entries in two checked-out trees, each in its
own subprocess (own JVM, own sys.path), interleaved A,B,B,A,B,A,A,B
so slow box drift cancels and each tree holds as many outer as middle
passes, best-of-3 noop-writes per entry per pass, with the bench.py
canary run in every subprocess for normalization.

Usage:
  python tools/ab_bench.py TREE_A TREE_B entry1 entry2 ...
  (or entry prefixes with a trailing '*': multimodal_*)

Sessions run on ``local[$SPARK_GRAFT_CPUS]`` (default 32, as in
bench.py) with bench.py's shuffle-partition count and its recommended
session confs (``confscope.apply_recommended``, so Arrow kernels see
bench.py's batch size), so an A/B on a small box is not
oversubscribed and times what the bench times.

Prints one JSON blob with, per entry, the per-pass raw readings AND
the per-pass in-child canaries (VERDICT r13 ask 5): normalization
pairs each reading with the canary measured in the SAME JVM, so the
table is auditable without cross-session canary inference.
Entries missing from a tree's registry are skipped with a note.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys, time
tree = os.environ["AB_TREE"]
sys.path.insert(0, tree)
from pyspark.sql import SparkSession
from harbourbridge_spark import queries as Q
from harbourbridge_spark.confscope import apply_recommended

cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")    # bench.py's default
spark = (apply_recommended(SparkSession.builder.master(f"local[{cpus}]")
         .appName("ab-bench")
         .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.driver.memory", "16g")
         .config("spark.ui.enabled", "false"))
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

best_canary = float("inf")
for _ in range(3):
    t0 = time.time()
    (spark.range(0, 30_000_000, 1, 64)
     .selectExpr("id % 1000003 AS k", "id AS v")
     .groupBy("k").agg({"v": "sum", "*": "count"})
     .write.format("noop").mode("overwrite").save())
    best_canary = min(best_canary, time.time() - t0)

names = json.loads(os.environ["AB_ENTRIES"])
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
out = {"__canary__": round(best_canary, 3)}
present = [n for n in names if n in Q.REGISTRY]
if present:   # warm-up: parquet footer cache + codegen, untimed
    Q.REGISTRY[present[0]].fn(spark, sf_dir).write.format(
        "noop").mode("overwrite").save()
for name in present:
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        Q.REGISTRY[name].fn(spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    out[name] = round(best, 3)
print("AB_RESULT " + json.dumps(out))
spark.stop()
"""


def run_tree(tree: str, entries: list[str]) -> dict[str, float]:
    env = dict(os.environ, AB_TREE=tree, AB_ENTRIES=json.dumps(entries))
    p = subprocess.run([sys.executable, "-c", _CHILD], env=env, cwd=tree,
                       capture_output=True, text=True, timeout=1800)
    for line in p.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    raise RuntimeError(f"tree {tree} produced no result:\n{p.stderr[-2000:]}")


def expand(tree: str, patterns: list[str]) -> list[str]:
    env = dict(os.environ, AB_TREE=tree)
    code = ("import os,sys,json; sys.path.insert(0,os.environ['AB_TREE']); "
            "from harbourbridge_spark import queries as Q; "
            "print(json.dumps(sorted(Q.REGISTRY)))")
    p = subprocess.run([sys.executable, "-c", code], env=env,
                       capture_output=True, text=True, timeout=120)
    reg = json.loads(p.stdout.strip().splitlines()[-1])
    out = []
    for pat in patterns:
        if pat.endswith("*"):
            out.extend(n for n in reg if n.startswith(pat[:-1]))
        elif pat in reg:
            out.append(pat)
    return sorted(set(out))


def main() -> None:
    tree_a, tree_b = os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])
    patterns = sys.argv[3:]
    ents_a = expand(tree_a, patterns)
    ents_b = expand(tree_b, patterns)
    shared = [n for n in ents_a if n in set(ents_b)]
    skipped = sorted(set(ents_a) ^ set(ents_b))
    # interleave A,B,B,A,B,A,A,B: each tree holds two outer and two
    # middle passes, so pass position cannot favour either tree; min
    # across the four passes per tree.  Every pass carries its OWN
    # in-child canary: the table records the per-pass canary next to
    # each reading, so a reading and the box state it was taken under
    # travel together.
    order = "ABBABAAB"
    trees = {"A": tree_a, "B": tree_b}
    runs = [run_tree(trees[t], shared) for t in order]
    pass_a = [r for t, r in zip(order, runs) if t == "A"]
    pass_b = [r for t, r in zip(order, runs) if t == "B"]
    can_a_passes = [p["__canary__"] for p in pass_a]
    can_b_passes = [p["__canary__"] for p in pass_b]
    rows = {}
    for k in shared:
        a_passes = [p[k] for p in pass_a]
        b_passes = [p[k] for p in pass_b]
        # normalize each reading by ITS pass's canary, then take the
        # min normalized reading per tree — a slow pass is discounted
        # by the slowness its own canary measured
        a_norm = min(t / c for t, c in zip(a_passes, can_a_passes))
        b_norm = min(t / c for t, c in zip(b_passes, can_b_passes))
        a_raw, b_raw = min(a_passes), min(b_passes)
        rows[k] = {"a": a_raw, "b": b_raw,
                   "a_passes": a_passes, "b_passes": b_passes,
                   "b_over_a_raw": round(b_raw / a_raw, 3) if a_raw else None,
                   "b_over_a_canary_norm": (round(b_norm / a_norm, 3)
                                            if a_norm else None)}
    print(json.dumps({"canary_a_passes": can_a_passes,
                      "canary_b_passes": can_b_passes,
                      "pass_order": ",".join(order),
                      "skipped_not_in_both": skipped, "entries": rows},
                     indent=1))


if __name__ == "__main__":
    main()
