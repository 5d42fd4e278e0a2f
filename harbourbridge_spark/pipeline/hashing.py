"""Engine-portable deterministic hashing.

The correctness gate compares Spark results against DuckDB, so every
hash used in dedup/similarity must produce the *same integer* in both
engines. Native hashes differ (Spark xxhash64/murmur vs DuckDB hash),
so we derive integers from md5 hex (identical everywhere):

    hash48(s) = int(md5(s)[:12], 16)   # 48 bits, fits comfortably in i64

Spark renders this with conv(); DuckDB 1.0 lacks conv(), so its SQL is
an ascii()-polynomial over the same 12 hex chars.

MinHash needs no md5: its shingle hash is a code-point polynomial below
2^31 (dedup.minhash_signature_sql), and its K permutations are a
Carter–Wegman family ``(a*h + b) mod (2^31 - 1)`` with ``a`` in
[1, p) and ``b`` in [0, p) drawn from a fixed seed (minhash_coeffs).
``a*h + b < 2^62 + 2^31``, so every value is exact in numpy int64, in
Spark with ANSI on, and in DuckDB.
"""

from __future__ import annotations

import hashlib

HASH_BITS = 48
MINHASH_PRIME = (1 << 31) - 1
MINHASH_SEED = 0x5EED
# names the shingle hash + permutation family; a store holding
# signatures carries it in its fixture identity, so a family change
# rebuilds the store instead of mixing two families
MINHASH_FAMILY = f"cp5-cw31-{MINHASH_SEED:x}"


def spark_hash48(expr: str) -> str:
    """Spark SQL for hash48 of a string expression."""
    return f"CAST(conv(substring(md5({expr}), 1, 12), 16, 10) AS BIGINT)"


def duck_hash48(expr: str) -> str:
    """DuckDB SQL for the same value: polynomial over the hex chars
    (ascii(c) - 87 for a-f, - 48 for 0-9)."""
    h = f"md5({expr})"
    terms = []
    for i in range(1, 13):
        digit = (f"(ascii(substring({h}, {i}, 1)) - "
                 f"CASE WHEN ascii(substring({h}, {i}, 1)) >= 97 "
                 f"THEN 87 ELSE 48 END)")
        terms.append(f"{digit} * CAST({16 ** (12 - i)} AS BIGINT)")
    return "(" + " + ".join(terms) + ")"


def hash48(expr: str, engine: str) -> str:
    return spark_hash48(expr) if engine == "spark" else duck_hash48(expr)


HASH48_MEMO_CAP = 1 << 21   # per-task memo bound (~100 MB worst)


def hash48_memo(strings, memo: dict) -> list:
    """Python twin of hash48 over every string in ``strings``:
    int(md5(s)[:12], 16) == the first 6 digest bytes big-endian (SQL
    md5 hashes the UTF-8 bytes; so does ``s.encode()``).  Values are
    memoized in ``memo``, which a kernel builds once per task:
    tokens and grams repeat massively across the documents
    of one partition, so most md5 calls become a dict hit.  The cap
    bounds worker memory on adversarially diverse input; past it,
    misses simply compute.  The loop lives here so a kernel makes one
    call per document."""
    get = memo.get
    out = []
    for s in strings:
        h = get(s)
        if h is None:
            h = int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:6],
                               "big")
            if len(memo) < HASH48_MEMO_CAP:
                memo[s] = h
        out.append(h)
    return out


def spark_hash_slice(expr: str, start: int = 1, nhex: int = 15) -> str:
    """Spark SQL: integer from ``nhex`` hex chars of md5 starting at
    1-based ``start``. nhex <= 15 keeps the value < 2^60 < 2^63
    (conv returns a string; the CAST must not overflow BIGINT)."""
    assert 1 <= nhex <= 15 and start + nhex - 1 <= 32
    return (f"CAST(conv(substring(md5({expr}), {start}, {nhex}), 16, 10) "
            f"AS BIGINT)")


def duck_hash_slice(expr: str, start: int = 1, nhex: int = 15) -> str:
    """DuckDB twin: ascii()-polynomial over the same hex chars.
    Largest term is 15 * 16^(nhex-1) = 15 * 2^56 < 2^60; the full sum
    stays < 2^61, ANSI-overflow-safe."""
    assert 1 <= nhex <= 15 and start + nhex - 1 <= 32
    h = f"md5({expr})"
    terms = []
    for j in range(nhex):
        i = start + j
        digit = (f"(ascii(substring({h}, {i}, 1)) - "
                 f"CASE WHEN ascii(substring({h}, {i}, 1)) >= 97 "
                 f"THEN 87 ELSE 48 END)")
        terms.append(f"{digit} * CAST({16 ** (nhex - 1 - j)} AS BIGINT)")
    return "(" + " + ".join(terms) + ")"


def hash60(expr: str, engine: str, start: int = 1) -> str:
    """60-bit md5 slice (15 hex chars from 1-based ``start``).

    Sized for LINE/GRAM cardinality: at 100 TB a corpus holds
    10^10-10^11 distinct lines, where hash48's birthday term is
    N^2/2^49 ~ 10^5-10^7 false merges (each silently deleting an
    innocent line).  60 bits cuts that 4096x; pairing two disjoint
    slices (start=1 and start=16) gives 120 effective bits — zero
    expected collisions at any conceivable corpus size.  Document-
    cardinality keys (10^9 docs) stay on hash48: ~10^3 expected
    collisions, tolerable for dedup (see SCALE.md collision budget)."""
    if engine == "spark":
        return spark_hash_slice(expr, start, 15)
    return duck_hash_slice(expr, start, 15)


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """K Carter–Wegman permutations ``(a, b)``, a in [1, p) and b in
    [0, p) for p = MINHASH_PRIME, drawn from MINHASH_SEED by splitmix64
    (pure integer arithmetic, so the literals the SQL templates embed
    never depend on a library's generator)."""
    mask, x, out = (1 << 64) - 1, MINHASH_SEED, []

    def draw(m: int) -> int:
        nonlocal x
        x = (x + 0x9E3779B97F4A7C15) & mask
        z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        return (z ^ (z >> 31)) % m

    for _ in range(k):
        a = 1 + draw(MINHASH_PRIME - 1)
        out.append((a, draw(MINHASH_PRIME)))
    return out


def perm_sql(hash_expr: str, a: int, b: int) -> str:
    """(a*h + b) mod 2^31-1 — same text works in both engines."""
    return f"(({a} * {hash_expr} + {b}) % {MINHASH_PRIME})"
