"""Output checks, run outside the timed region.

Each checker returns a list of error strings; an empty list means the
iteration's output is correct.  The migrations are compared with the
generator's ground truth (gen.py): per-table row counts and a digest
of the rows the sink holds.  The near-dup manifest is compared with a
Python union-find over the verified pairs the chain produced.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import sqlite3

from gen import canon_dec, digest

_EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)
SAMPLE_CAP = 100      # write_bad_data's default sample size


def _canon_arrow(col, kind: str) -> list:
    import pyarrow as pa
    if kind == "ts":
        col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
    elif kind == "date":
        col = col.cast(pa.int32())
    vals = col.to_pylist()
    if kind == "dec":
        return [None if v is None else canon_dec(v) for v in vals]
    if kind in ("astr", "aint"):
        return [None if v is None else tuple(v) for v in vals]
    return vals


def _canon_sqlite(v, kind: str):
    if v is None:
        return None
    if kind == "dec":
        return canon_dec(v)
    if kind == "ts":
        return (dt.datetime.fromisoformat(v) - _EPOCH) // _US
    if kind == "date":
        return (dt.date.fromisoformat(v) - _EPOCH.date()).days
    if kind == "bool":
        return bool(v)
    return v


def parquet_rows(path: str, kinds: list) -> list:
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = [_canon_arrow(t.column(i), k) for i, k in enumerate(kinds)]
    return list(zip(*cols))


def sqlite_rows(db_path: str, table: str, kinds: list) -> list:
    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(f'SELECT * FROM "{table}"').fetchall()
    finally:
        con.close()
    return [tuple(_canon_sqlite(v, k) for v, k in zip(r, kinds))
            for r in rows]


def _sample_count(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if line.startswith("cols="))


def check_migration(out_dir: str, truth: dict, ctx, target: str) -> list:
    """Per table: the sink holds exactly the generator's good rows
    (count + digest), the quarantine sample file holds
    min(bad, SAMPLE_CAP) rows, the writer-rejected duplicates are
    counted, and the context's row stats match the ground truth."""
    errs = []
    for name in ("report.txt", "schema.txt", "session.json"):
        if not os.path.exists(os.path.join(out_dir, name)):
            errs.append(f"missing {name}")
    for t, tt in truth["tables"].items():
        if target == "sqlite":
            rows = sqlite_rows(os.path.join(out_dir, "migrated.db"), t,
                               tt["kinds"])
        else:
            rows = parquet_rows(os.path.join(out_dir, f"{t}.parquet"),
                                tt["kinds"])
        if len(rows) != tt["good"]:
            errs.append(f"{t}: {len(rows)} rows written, "
                        f"expected {tt['good']}")
        elif digest(rows) != tt["digest"]:
            errs.append(f"{t}: row digest mismatch")
        n_samples = _sample_count(os.path.join(out_dir,
                                               f"{t}.dropped.txt"))
        if n_samples != min(tt["bad"], SAMPLE_CAP):
            errs.append(f"{t}: {n_samples} bad-row samples, expected "
                        f"{min(tt['bad'], SAMPLE_CAP)}")
        rejected = 0
        wd = os.path.join(out_dir, f"{t}.writer_dropped.txt")
        if os.path.exists(wd):
            with open(wd, encoding="utf-8") as f:
                m = re.match(r"# (\d+) row", f.readline())
            rejected = int(m.group(1)) if m else -1
        if rejected != tt["dropped"]:
            errs.append(f"{t}: {rejected} rows rejected by the writer, "
                        f"expected {tt['dropped']}")
        st = ctx.table_stats.get(t)
        if st is None:
            errs.append(f"{t}: no row stats")
            continue
        if st.rows != tt["rows"] or st.good_rows != tt["good"]:
            errs.append(f"{t}: stats rows/good {st.rows}/{st.good_rows}, "
                        f"expected {tt['rows']}/{tt['good']}")
        # the sqlite path counts only the sampled bad rows (see
        # README.md, "Known defect"), so the exact bad count is
        # checked on the parquet path and by the traced run's
        # convert.bad_rows
        if target == "parquet" and st.bad_rows != tt["bad"]:
            errs.append(f"{t}: stats bad {st.bad_rows}, "
                        f"expected {tt['bad']}")
    return errs


def union_find_labels(pairs) -> dict:
    """doc_id -> min doc_id of its connected component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
            parent.setdefault(lo, lo)
    return {x: find(x) for x in list(parent)}


def check_manifest(out_dir: str, truth: dict, pairs: list) -> list:
    """The manifest covers every document exactly once, and its labels
    equal union-find over the verified pairs; the seeded duplicates
    are mostly found (a chain that found no pairs would otherwise pass
    trivially)."""
    import pyarrow.parquet as pq
    errs = []
    docs = pq.read_table(truth["input"], columns=["doc_id"]) \
        .column(0).to_pylist()
    man = pq.read_table(os.path.join(out_dir, "manifest.parquet")) \
        .to_pydict()
    ids = man["doc_id"]
    if len(ids) != len(docs) or set(ids) != set(docs):
        errs.append(f"manifest has {len(ids)} rows over "
                    f"{len(set(ids))} docs, corpus has {len(docs)}")
        return errs
    labels = union_find_labels(pairs)
    bad = 0
    for d, c, k in zip(ids, man["cluster_id"], man["keep"]):
        want = labels.get(d, d)
        if c != want or k != (want == d):
            bad += 1
    if bad:
        errs.append(f"{bad} manifest rows disagree with union-find")
    dropped = sum(1 for k in man["keep"] if not k)
    if dropped < 0.8 * truth["seeded_dups"]:
        errs.append(f"only {dropped} docs dropped of "
                    f"{truth['seeded_dups']} seeded near-duplicates")
    return errs
