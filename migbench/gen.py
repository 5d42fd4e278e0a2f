"""Seeded input generators for the migration benchmark.

Each builder writes its input files into a directory and returns the
ground truth the checker compares the program's output against:
per-table row counts (good, quarantined, writer-rejected duplicates)
and a digest of the rows the sink must hold.  The program under test
only ever sees the generated files.

Canonical row values (shared with check.py):

    int    Python int
    dec    canon_dec(value): str of the Decimal quantized to cents
    str    Python str
    bool   Python bool
    date   days since 1970-01-01
    ts     microseconds since the epoch, UTC
    bytes  Python bytes
    astr   tuple of str       (pg text[])
    aint   tuple of int       (pg integer[])

Run as a script to build one workload's input:

    python3 migbench/gen.py --workload pg_to_parquet --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import hashlib
import json
import os
import random

import numpy as np

# Input sizes.  mysql_to_sqlite stays far below the ~40-64 MB zone in
# which pgdump._estimate_serial_scan_sec's timed probe can flip the
# distributed ingest between its serial and distributed scan from run
# to run (see README.md, "Pinned ingest branch").
PG_ROWS = {"customers": 22_000, "orders": 27_000, "audit_log": 11_000}
MYSQL_ROWS = {"users": 12_000, "line_items": 18_000}
MYSQL_DUP_KEYS = 36          # exact duplicate rows in line_items
MYSQL_TUPLES_PER_INSERT = 500
BAD_SHARE = 0.004            # share of rows with one malformed value
MYSQL_BAD_SHARE = 0.012      # >100 per table: past the sample cap
NEARDUP_DOCS = 3_000
NEARDUP_CLUSTERS = 200       # near-duplicate clusters of 2-5 docs
NEARDUP_CHAINS = 30          # edit chains
CHAIN_LEN = 8                # docs per edit chain (sets CC rounds)

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = _EPOCH.date()
_TS_LO = 946_684_800_000_000       # 2000-01-01 in epoch micros
_TS_SPAN = 788_918_400_000_000     # 25 years
# a fixed vocabulary of letter words: diverse enough that MinHash band
# buckets of unrelated documents stay far below dedup.MAX_BUCKET
_VOCAB_RNG = random.Random(0)
_WORDS = sorted({"".join(_VOCAB_RNG.choice("abcdefghijklmnopqrstuvwxyz")
                         for _ in range(_VOCAB_RNG.randint(3, 10)))
                 for _ in range(20_000)})


def bit_reverse64(seq: int) -> int:
    """Signed bit-reversed 64-bit sequence: the synthetic primary key
    the converter derives from a row's staged sequence number."""
    rev = int(f"{seq:064b}"[::-1], 2)
    return rev - (1 << 64) if rev >= 1 << 63 else rev


def digest(rows) -> str:
    """Order-free digest of canonical row tuples."""
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def canon_dec(v) -> str:
    """Canonical NUMERIC value: the decimal quantized to cents."""
    if isinstance(v, float):
        v = repr(v)
    return str(decimal.Decimal(v).quantize(decimal.Decimal("0.01")))


def _dec(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    return f"{sign}{abs(cents) // 100}.{abs(cents) % 100:02d}"


def _ts_text(us: int, off_min: int = 0, sep: str = " ") -> str:
    """Wall-clock text of an instant at a fixed UTC offset."""
    t = _EPOCH + dt.timedelta(microseconds=us + off_min * 60_000_000)
    return t.isoformat(sep=sep)


def _off_suffix(off_min: int) -> str:
    sign = "+" if off_min >= 0 else "-"
    h, m = divmod(abs(off_min), 60)
    return f"{sign}{h:02d}" + (f":{m:02d}" if m else "")


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _copy_escape(v: str) -> str:
    return (v.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r"))


# ---------------------------------------------------------------------------
# pg_dump (COPY layout)
# ---------------------------------------------------------------------------

_PG_DDL = {
    "customers": ["id bigint NOT NULL", "name text",
                  "balance numeric(14,2)",
                  "signup_at timestamp with time zone", "birth date",
                  "active boolean", "tags text[]", "avatar bytea"],
    "orders": ["id integer NOT NULL", "customer_id bigint",
               "total numeric(12,2)",
               "placed_at timestamp with time zone", "qty integer[]",
               "note text"],
    "audit_log": ["event text", "at timestamp with time zone",
                  "ok boolean", "payload bytea"],
}
_PG_COLS = {
    "customers": ["id", "name", "balance", "signup_at", "birth", "active",
                  "tags", "avatar"],
    "orders": ["id", "customer_id", "total", "placed_at", "qty", "note"],
    "audit_log": ["event", "at", "ok", "payload"],
}
_PG_KINDS = {
    "customers": ["int", "str", "dec", "ts", "date", "bool", "astr",
                  "bytes"],
    "orders": ["int", "int", "dec", "ts", "aint", "str"],
    "audit_log": ["str", "ts", "bool", "bytes", "int"],   # + synth_id
}
_PG_PKS = {"customers": "id", "orders": "id"}
_OFFSETS = [0, 0, 60, -300, 330, -480, 120, 545]

# one malformed rendering per kind: each is quarantined by the
# converter's strict parse
_PG_MALFORMED = {
    "int": "12a", "dec": "12.3.4", "ts": "2021-03-04T05:06:07",
    "date": "2021-3-4", "bool": "yes", "bytes": "\\\\xZZ",
    "aint": "{1,x2}",
}


def _pg_value(rng: random.Random, kind: str):
    """(COPY text, canonical value) for one generated cell."""
    if kind == "int":
        v = rng.randint(-2_000_000_000, 2_000_000_000)
        return str(v), v
    if kind == "dec":
        c = rng.randint(-99_999_999, 99_999_999)
        return _dec(c), canon_dec(_dec(c))
    if kind == "ts":
        us = _TS_LO + rng.randrange(_TS_SPAN)
        if rng.random() < 0.5:
            us -= us % 1_000_000
        off = rng.choice(_OFFSETS)
        return _ts_text(us, off) + _off_suffix(off), us
    if kind == "date":
        d = rng.randint(-25_000, 20_000)
        return (_EPOCH_DATE + dt.timedelta(days=d)).isoformat(), d
    if kind == "bool":
        b = rng.random() < 0.5
        return ("t" if b else "f"), b
    if kind == "bytes":
        raw = rng.randbytes(rng.randint(1, 24))
        return "\\\\x" + raw.hex(), raw
    if kind == "astr":
        elems = [rng.choice(_WORDS) for _ in range(rng.randint(0, 4))]
        if elems and rng.random() < 0.2:
            elems[0] = elems[0] + " " + rng.choice(_WORDS)
        lit = ",".join(f'"{e}"' if " " in e else e for e in elems)
        return "{" + lit + "}", tuple(elems)
    if kind == "aint":
        elems = [rng.randint(0, 999) for _ in range(rng.randint(1, 5))]
        return "{" + ",".join(map(str, elems)) + "}", tuple(elems)
    # str: words, with tab / newline / backslash escapes mixed in
    s = _text(rng, 2, 12)
    r = rng.random()
    if r < 0.05:
        s += "\tcol"
    elif r < 0.10:
        s += "\nline two"
    elif r < 0.13:
        s += " C:\\path\\x"
    return _copy_escape(s), s


def build_pg_dump(out_dir: str, seed: int, rows=None) -> dict:
    """A pg_dump-layout dump: DDL, one COPY block per table, then the
    PRIMARY KEY constraints, as pg_dump writes them by default."""
    rows = rows or PG_ROWS
    rng = random.Random(f"pg-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "dump.sql")
    truth = {"tables": {}}
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("--\n-- PostgreSQL database dump\n--\n\n"
                "SET statement_timeout = 0;\n"
                "SET client_encoding = 'UTF8';\n"
                "SET standard_conforming_strings = on;\n"
                "SELECT pg_catalog.set_config('search_path', '', false);\n"
                "SET default_tablespace = '';\n\n")
        for t, ddl in _PG_DDL.items():
            cols = ",\n    ".join(ddl)
            f.write(f"CREATE TABLE public.{t} (\n    {cols}\n);\n\n"
                    f"ALTER TABLE public.{t} OWNER TO postgres;\n\n")
        for t, n in rows.items():
            kinds = _PG_KINDS[t][:len(_PG_COLS[t])]
            typed = [i for i, k in enumerate(kinds) if k in _PG_MALFORMED]
            good, bad = [], 0
            f.write(f"COPY public.{t} ({', '.join(_PG_COLS[t])}) "
                    f"FROM stdin;\n")
            for seq in range(n):
                cells = [_pg_value(rng, k) for k in kinds]
                if t in _PG_PKS:           # unique keys
                    cells[0] = (str(seq * 7 + 3), seq * 7 + 3)
                if rng.random() < 0.05:    # NULLs in a nullable column
                    j = rng.randrange(1, len(cells))
                    cells[j] = ("\\N", None)
                if rng.random() < BAD_SHARE:
                    j = rng.choice([i for i in typed if i > 0 or
                                    t not in _PG_PKS])
                    cells[j] = (_PG_MALFORMED[kinds[j]], None)
                    bad += 1
                else:
                    vals = [c[1] for c in cells]
                    if t not in _PG_PKS:
                        vals.append(bit_reverse64(seq))
                    good.append(tuple(vals))
                f.write("\t".join(c[0] for c in cells) + "\n")
            f.write("\\.\n\n")
            truth["tables"][t] = {"rows": n, "good": len(good), "bad": bad,
                                  "dropped": 0, "kinds": _PG_KINDS[t],
                                  "digest": digest(good)}
        for t, pk in _PG_PKS.items():
            f.write(f"ALTER TABLE ONLY public.{t}\n    ADD CONSTRAINT "
                    f"{t}_pkey PRIMARY KEY ({pk});\n\n")
        f.write("--\n-- PostgreSQL database dump complete\n--\n")
    truth["input"] = path
    truth["input_bytes"] = os.path.getsize(path)
    return truth


# ---------------------------------------------------------------------------
# mysqldump (extended INSERT layout)
# ---------------------------------------------------------------------------

_MY_DDL = {
    "users": ("  `id` int NOT NULL,\n  `email` varchar(120) DEFAULT NULL,\n"
              "  `score` decimal(12,2) DEFAULT NULL,\n"
              "  `created` datetime DEFAULT NULL,\n"
              "  `dob` date DEFAULT NULL,\n"
              "  `active` tinyint(1) DEFAULT NULL,\n"
              "  `updated` timestamp NULL DEFAULT NULL,\n"
              "  PRIMARY KEY (`id`)"),
    "line_items": ("  `id` bigint NOT NULL,\n  `user_id` int DEFAULT NULL,\n"
                   "  `sku` varchar(32) DEFAULT NULL,\n"
                   "  `price` decimal(10,2) DEFAULT NULL,\n"
                   "  `qty` int DEFAULT NULL,\n  `note` text,\n"
                   "  PRIMARY KEY (`id`)"),
}
_MY_KINDS = {
    "users": ["int", "str", "dec", "ts", "date", "bool", "ts"],
    "line_items": ["int", "int", "str", "dec", "int", "str"],
}
_MY_MALFORMED = {"int": "'12a'", "dec": "'1.2.3'",
                 "ts": "'2021-03-04T05:06:07'", "date": "'2021-3-4'"}


def _my_quote(s: str) -> str:
    return "'" + (s.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("\n", "\\n").replace("\t", "\\t")) + "'"


def _my_value(rng: random.Random, kind: str):
    if kind == "int":
        v = rng.randint(-2_000_000_000, 2_000_000_000)
        return str(v), v
    if kind == "dec":
        c = rng.randint(-9_999_999, 9_999_999)
        return _dec(c), canon_dec(_dec(c))
    if kind == "ts":
        us = _TS_LO + rng.randrange(_TS_SPAN)
        us -= us % 1_000_000
        return "'" + _ts_text(us) + "'", us
    if kind == "date":
        d = rng.randint(-10_000, 20_000)
        return "'" + (_EPOCH_DATE + dt.timedelta(days=d)).isoformat() \
            + "'", d
    if kind == "bool":
        b = rng.random() < 0.5
        return ("1" if b else "0"), b
    s = _text(rng, 1, 10)
    r = rng.random()
    if r < 0.04:
        s += " o'brien"
    elif r < 0.07:
        s += "\nsecond"
    elif r < 0.09:
        s += " back\\slash"
    return _my_quote(s), s


def build_mysql_dump(out_dir: str, seed: int, rows=None,
                     dup_keys: int = MYSQL_DUP_KEYS) -> dict:
    """A mysqldump-layout dump with extended INSERTs; ``dup_keys``
    rows of line_items are repeated verbatim later in the dump, so the
    target's PRIMARY KEY rejects exactly that many rows."""
    rows = rows or MYSQL_ROWS
    rng = random.Random(f"mysql-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "dump.sql")
    truth = {"tables": {}}
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("-- MySQL dump 10.13\n--\n"
                "/*!40101 SET NAMES utf8mb4 */;\n"
                "/*!40103 SET TIME_ZONE='+00:00' */;\n\n")
        for t, n in rows.items():
            kinds = _MY_KINDS[t]
            f.write(f"DROP TABLE IF EXISTS `{t}`;\n"
                    f"CREATE TABLE `{t}` (\n{_MY_DDL[t]}\n) "
                    f"ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;\n\n"
                    f"LOCK TABLES `{t}` WRITE;\n")
            typed = [i for i, k in enumerate(kinds)
                     if k in _MY_MALFORMED and i > 0]
            tuples, good, bad = [], [], 0
            for seq in range(n):
                cells = [_my_value(rng, k) for k in kinds]
                cells[0] = (str(seq * 5 + 1), seq * 5 + 1)
                if rng.random() < 0.05:
                    j = rng.randrange(1, len(cells))
                    cells[j] = ("NULL", None)
                if rng.random() < MYSQL_BAD_SHARE:
                    j = rng.choice(typed)
                    cells[j] = (_MY_MALFORMED[kinds[j]], None)
                    bad += 1
                else:
                    good.append(tuple(c[1] for c in cells))
                tuples.append("(" + ",".join(c[0] for c in cells) + ")")
            dropped = 0
            if t == "line_items":
                # clean rows repeated verbatim at a later position
                clean = [i for i, g in enumerate(tuples)
                         if i < n // 2 and "'12a'" not in g
                         and "'1.2.3'" not in g]
                for i in sorted(rng.sample(clean, dup_keys)):
                    tuples.insert(rng.randrange(n // 2, len(tuples)),
                                  tuples[i])
                dropped = dup_keys
            for s in range(0, len(tuples), MYSQL_TUPLES_PER_INSERT):
                f.write(f"INSERT INTO `{t}` VALUES "
                        + ",".join(tuples[s:s + MYSQL_TUPLES_PER_INSERT])
                        + ";\n")
            f.write("UNLOCK TABLES;\n\n")
            truth["tables"][t] = {"rows": len(tuples), "good": len(good),
                                  "bad": bad, "dropped": dropped,
                                  "kinds": kinds, "digest": digest(good)}
        f.write("-- Dump completed\n")
    truth["input"] = path
    truth["input_bytes"] = os.path.getsize(path)
    return truth


# ---------------------------------------------------------------------------
# near-duplicate corpus
# ---------------------------------------------------------------------------

def _edit(rng: random.Random, words: list, n_edits: int) -> list:
    out = list(words)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(_WORDS)
    return out


def build_corpus(out_dir: str, seed: int, docs: int = NEARDUP_DOCS,
                 clusters: int = NEARDUP_CLUSTERS,
                 chains: int = NEARDUP_CHAINS,
                 chain_len: int = CHAIN_LEN) -> dict:
    """documents.parquet (doc_id, text): singletons, near-duplicate
    clusters (a base text plus 1-4 lightly edited copies, well under
    dedup.MAX_BUCKET members) and edit chains (each doc one small edit
    away from the previous one).  Doc ids are shuffled so cluster
    members are not adjacent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus-{seed}")
    texts = []
    seeded_dups = 0
    for _ in range(clusters):
        base = [rng.choice(_WORDS) for _ in range(rng.randint(60, 140))]
        texts.append(base)
        for _ in range(rng.randint(1, 4)):
            texts.append(_edit(rng, base, rng.randint(1, 3)))
            seeded_dups += 1
    for _ in range(chains):
        cur = [rng.choice(_WORDS) for _ in range(rng.randint(80, 120))]
        texts.append(cur)
        for _ in range(chain_len - 1):
            # ~4 edits per link: neighbours verify, docs four links
            # apart fall below the verify threshold
            cur = _edit(rng, cur, 4)
            texts.append(cur)
            seeded_dups += 1
    while len(texts) < docs:
        texts.append([rng.choice(_WORDS)
                      for _ in range(rng.randint(40, 160))])
    perm = np.random.default_rng(seed % (1 << 32)).permutation(len(texts))
    ids = perm * 3 + 11
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array([" ".join(w) for w in texts])}), path)
    return {"input": path, "input_bytes": os.path.getsize(path),
            "docs": len(texts), "clusters": clusters, "chains": chains,
            "chain_len": chain_len, "seeded_dups": seeded_dups}


BUILDERS = {"pg_to_parquet": build_pg_dump,
            "mysql_to_sqlite": build_mysql_dump,
            "neardup_corpus": build_corpus}

def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(BUILDERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    truth = BUILDERS[a.workload](a.out, a.seed)
    # truth.json last and atomically: its presence marks a complete input
    tmp = os.path.join(a.out, "truth.json.tmp")
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, os.path.join(a.out, "truth.json"))


if __name__ == "__main__":
    main()
