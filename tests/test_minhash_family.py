"""The MinHash family: code-point shingle hashes permuted by a
Carter–Wegman family ``(a*h + b) mod (2^31 - 1)``.

- the K permutations are really different orders: on a fixed text
  their argmins land on different shingles;
- band collisions follow the LSH S-curve ``1 - (1 - s^r)^b``;
- the numpy kernel and the SQL template give bit-identical signatures
  in DuckDB and in Spark, on non-ASCII and non-BMP text, on text
  shorter than a shingle, and on empty and NULL text;
- a signature store built under another family is not reused.
"""

from __future__ import annotations

import os
import random

import duckdb
import numpy as np

from harbourbridge_spark.pipeline import dedup as D
from harbourbridge_spark.pipeline.hashing import (MINHASH_PRIME,
                                                  minhash_coeffs)

SF_DIR = "/root/testdata/sf0.001"

TEXT = ("The quick brown fox jumps over the lazy dog while the five "
        "boxing wizards jump quickly; pack my box with five dozen "
        "liquor jugs, and how vexingly quick daft zebras jump!")


def test_coefficients_span_the_field():
    coeffs = minhash_coeffs(D.MINHASH_K)
    assert coeffs == minhash_coeffs(D.MINHASH_K)        # fixed seed
    assert len({a for a, _ in coeffs}) == D.MINHASH_K
    assert all(1 <= a < MINHASH_PRIME and 0 <= b < MINHASH_PRIME
               for a, b in coeffs)


def test_permutations_pick_different_argmins():
    """A monotone family picks the same shingle for every permutation
    (identical bands); this one must pick at least 12 of 16 distinct
    shingles on a fixed text, and the kernel's minima are the values
    at those argmins."""
    h = D._shingle_hashes(TEXT.lower())
    argmins = set()
    mins = []
    for a, b in minhash_coeffs(D.MINHASH_K):
        perm = (a * h + b) % MINHASH_PRIME
        argmins.add(int(h[int(perm.argmin())]))
        mins.append(int(perm.min()))
    assert len(argmins) >= 12, len(argmins)
    assert D._minhash_signature(TEXT.lower()) == mins


def _pair(rng: random.Random, n: int, subs: int) -> tuple[str, str]:
    """A text of ``n`` code points drawn from 20,000 CJK ideographs
    (so shingles almost never repeat) and a copy with ``subs``
    positions replaced."""
    a = [chr(0x4E00 + rng.randrange(20_000)) for _ in range(n)]
    b = list(a)
    for i in rng.sample(range(n), subs):
        b[i] = chr(0x4E00 + rng.randrange(20_000))
    return "".join(a), "".join(b)


def _shingles(t: str) -> set:
    return {t[i:i + D.SHINGLE] for i in range(len(t) - D.SHINGLE + 1)}


def test_band_collisions_follow_the_s_curve():
    """Pairs of known shingle Jaccard s become band candidates at the
    rate 1 - (1 - s^4)^4 (4 bands of 4).  Per group of 300 pairs the
    observed rate must be within 0.08 of the mean expected rate (the
    binomial standard error is at most 0.029), and the groups must
    climb the curve; a monotone family collides at rate ~s instead
    (0.3 vs 0.06 at s = 0.3, 0.5 vs 0.23 at s = 0.5)."""
    rng = random.Random(7)
    b, r = D.MINHASH_K // D.BAND_SIZE, D.BAND_SIZE
    rates = []
    for subs in (2, 6, 12, 20, 32):
        hits, expect, js = 0, 0.0, []
        for _ in range(300):
            x, y = _pair(rng, 200, subs)
            sx, sy = _shingles(x), _shingles(y)
            j = len(sx & sy) / len(sx | sy)
            js.append(j)
            expect += 1 - (1 - j ** r) ** b
            mx, my = D._minhash_signature(x), D._minhash_signature(y)
            hits += any(mx[k * r:(k + 1) * r] == my[k * r:(k + 1) * r]
                        for k in range(b))
        obs, exp = hits / 300, expect / 300
        assert abs(obs - exp) <= 0.08, (subs, np.mean(js), obs, exp)
        rates.append(obs)
    assert rates == sorted(rates, reverse=True)
    assert rates[0] > 0.9 and rates[-1] < 0.2


EDGE_TEXTS = ["near duplicate documents share shingles",
              "unicode éü中文 text", "😀🎉 emoji beyond the BMP 😀",
              "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 fraktur", "abcd", "abcde", "ab", "a", "",
              "  x  ", "日本", None]


def _duck_signatures(texts) -> dict:
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    return {r[0]: list(r[1:]) for r in con.execute(
        D.minhash_signature_sql("duckdb")).fetchall()}


def test_kernel_matches_template_in_duckdb():
    rows = _duck_signatures(EDGE_TEXTS)
    for i, t in enumerate(EDGE_TEXTS):
        want = [None] * D.MINHASH_K if t is None \
            else D._minhash_signature(t.lower().strip(" "))
        assert rows[i] == want, (i, t)


def test_kernel_matches_template_in_spark(spark):
    """The Spark template (ANSI on: every array index is in range) and
    the Arrow kernel path give the same rows, and both equal DuckDB's."""
    docs = spark.createDataFrame(list(enumerate(EDGE_TEXTS)),
                                 "doc_id long, text string")
    docs.createOrReplaceTempView("documents")
    try:
        cols = ["doc_id"] + [f"m{i}" for i in range(D.MINHASH_K)]
        sql = {r[0]: list(r[1:]) for r in
               spark.sql(D.minhash_signature_sql("spark")).select(*cols)
               .collect()}
        kern = {r[0]: list(r[1:]) for r in
                D.vectorized_signature_df(docs).select(*cols).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert sql == kern == _duck_signatures(EDGE_TEXTS)


def test_signature_store_of_another_family_is_not_reused(
        spark, tmp_path, monkeypatch):
    """A store published under the identity without the family token
    (the previous family's) holds wrong signatures; the registry entry
    must build its own store and still match the oracle."""
    from pyspark.sql import functions as F

    from harbourbridge_spark.oraclecheck import register_views
    from harbourbridge_spark.pipeline.storecache import fixture_store
    from harbourbridge_spark.scan import read_spread

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    src = f"{SF_DIR}/documents.parquet"
    mod, res = D.INCOMING_MOD, D.INCOMING_RES
    stale = fixture_store("sig", src, mod, res)
    corpus = read_spread(spark, src).where(f"doc_id % {mod} < {res}")
    D.signature_store_write(
        spark, corpus.withColumn("text", F.lit("one text for all")), stale)
    assert os.path.isdir(stale)

    got = set(map(tuple, D.dedup_incremental_store_entry_fn(
        spark, SF_DIR).collect()))
    con = duckdb.connect()
    register_views(con, SF_DIR)
    want = set(con.execute(D.dedup_incremental_sql("duckdb")).fetchall())
    assert got == want
