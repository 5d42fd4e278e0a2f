"""Similarity search over embedding columns: brute-force cosine top-k
(the exactness baseline) and a random-hyperplane LSH-bucketed variant
(the scale path).

Dual-engine SQL templates (text.py): the DuckDB rendering is the
oracle. Dot products fold sequentially over the fixed element order in
both engines, so doubles are bit-identical.

Scale design: brute-force is O(Q x N) — fine for small query sets
against any N because it is one broadcast-join + window; the LSH
variant hashes every vector into 2^NBITS hyperplane-sign buckets and
searches only the query's bucket, turning the scan into an equi-join.
Hyperplane components are deterministic pseudo-random constants
(generated from a seeded hash at module import), embedded literally in
the SQL so both engines agree.
"""

from __future__ import annotations

from ..confscope import scoped_parser_mode
from ..scan import read_spread, read_store

import hashlib

DIM = 64        # embedding dimensionality of the fixture table
NBITS = 8       # LSH signature bits (2^8 buckets)
TOPK = 5


def _plane_const(bit: int, i: int) -> int:
    """Deterministic pseudo-random hyperplane component in [-500, 500]."""
    h = hashlib.md5(f"plane:{bit}:{i}".encode()).hexdigest()
    return int(h[:12], 16) % 1001 - 500


_PLANES = [[_plane_const(b, i) for i in range(DIM)] for b in range(NBITS)]


def _dot_sql(engine: str, a: str, b: str) -> str:
    if engine == "spark":
        return (f"aggregate(zip_with({a}, {b}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "0D, (acc, v) -> acc + v)")
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def _norm_sql(engine: str, v: str) -> str:
    if engine == "spark":
        return (f"sqrt(aggregate({v}, 0D, "
                "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    return f"sqrt(list_dot_product({v}::DOUBLE[], {v}::DOUBLE[]))"


def _plane_dot_sql(engine: str, v: str, bit: int) -> str:
    """Dot of a vector column with a literal hyperplane."""
    plane = _PLANES[bit]
    if engine == "spark":
        lit = "array(" + ", ".join(f"{c}D" for c in plane) + ")"
        return (f"aggregate(zip_with({v}, {lit}, "
                "(x, p) -> CAST(x AS DOUBLE) * p), 0D, (acc, t) -> acc + t)")
    lit = "[" + ", ".join(f"{c}.0" for c in plane) + "]"
    return f"list_dot_product({v}::DOUBLE[], {lit}::DOUBLE[])"


def _signature_sql(engine: str, v: str) -> str:
    """NBITS-char sign signature of a vector vs the hyperplanes."""
    bits = [f"CASE WHEN {_plane_dot_sql(engine, v, b)} >= 0 "
            "THEN '1' ELSE '0' END" for b in range(NBITS)]
    return " || ".join(bits)


def ann_bruteforce_sql(engine: str, n_queries: int = 10,
                       topk: int = TOPK) -> str:
    """Exact cosine top-k for the first ``n_queries`` vectors: one
    broadcast of the tiny query side + window rank. Deterministic tie
    break on neighbor id. Norms precomputed per vector, not per pair."""
    dot = _dot_sql(engine, "q.embedding", "c.embedding")
    nrm = _norm_sql(engine, "embedding")
    return f"""
    WITH c AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings),
    q AS (SELECT vec_id, embedding, nrm FROM c
          WHERE vec_id < {n_queries}),
    sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {dot} / (q.nrm * c.nrm) AS cos
        FROM q JOIN c ON c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {topk}
    """


def ann_ivf_sql(engine: str, n_queries: int = 10, topk: int = TOPK,
                n_cells: int = 16, nprobe: int = 2) -> str:
    """IVF-style ANN: coarse quantization into ``n_cells`` cells
    (centroids = the first n_cells vectors — deterministic, so both
    engines build the identical index), each vector assigned to its
    nearest centroid by cosine; a query probes its ``nprobe`` nearest
    cells and brute-forces only inside them.

    Scale shape: the assignment pass is O(N x n_cells) fold arithmetic
    (a projection — no shuffle), the search is an equi-join on cell id.
    Compared to ann_lsh, IVF gives tunable recall via nprobe instead of
    fixed hash buckets. Real deployments would k-means the centroids;
    first-K keeps the index deterministic for the oracle gate."""
    dot_qc = _dot_sql(engine, "q.embedding", "cent.cvec")
    dot_vc = _dot_sql(engine, "c.embedding", "cent.cvec")
    dot_qn = _dot_sql(engine, "q.embedding", "n.embedding")
    nrm = _norm_sql(engine, "embedding")
    return f"""
    WITH c AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
             FROM c WHERE vec_id < {n_cells}),
    asg AS (
        SELECT vec_id, cent_id FROM (
            SELECT c.vec_id, cent.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY {dot_vc} / (c.nrm * cent.cnrm) DESC,
                                cent.cent_id) AS rk
            FROM c CROSS JOIN cent) _a
        WHERE rk = 1
    ),
    qprobe AS (
        SELECT query_id, cent_id FROM (
            SELECT q.vec_id AS query_id, cent.cent_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {dot_qc} / (q.nrm * cent.cnrm) DESC,
                                cent.cent_id) AS rk
            FROM c q CROSS JOIN cent WHERE q.vec_id < {n_queries}) _p
        WHERE rk <= {nprobe}
    ),
    sims AS (
        SELECT qp.query_id, a.vec_id AS neighbor_id,
               {dot_qn} / (q.nrm * n.nrm) AS cos
        FROM qprobe qp
          JOIN asg a ON a.cent_id = qp.cent_id
          JOIN c q ON q.vec_id = qp.query_id
          JOIN c n ON n.vec_id = a.vec_id AND n.vec_id != qp.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {topk}
    """


def ann_lsh_multiprobe_sql(engine: str, n_queries: int = 10,
                           topk: int = TOPK, radius: int = 2) -> str:
    """Multi-probe LSH ANN: each query searches its own sign-bucket
    PLUS every bucket within Hamming distance ``radius`` of its
    signature (the standard multi-probe trick — neighbors that
    narrowly missed a hyperplane sit one bit flip away).  probes =
    sum over r<=radius of C(NBITS, r): radius 2 at NBITS=8 probes 37
    of 256 buckets (~14% of the corpus) — measured recall@5 0.02->0.52 on
    the isotropic sf0.1 fixture (ann_recall is the gauge; isotropic
    random vectors are the LSH-hostile worst case, clustered real
    embeddings bucket far better).

    Scale shape: the probe signatures are ONE array-literal projection
    of the tiny query side, exploded to (vec_id, psig) rows — a single
    scan + Generate, not a probes-way UNION (the union form re-scanned
    the table once per probe: 39 scans in the physical plan); the
    search stays one equi-join against the same capped buckets as
    ann_lsh.  A candidate's single signature matches at most one
    probe, so no dedup pass is needed."""
    import itertools
    from .text import render
    sig = _signature_sql(engine, "embedding")
    dot = _dot_sql(engine, "q.embedding", "c.embedding")
    nrm = _norm_sql(engine, "embedding")
    chars = ", ".join(f"substring(sig, {b + 1}, 1) AS c{b}"
                      for b in range(NBITS))
    flips = [()]
    for r in range(1, radius + 1):
        flips += list(itertools.combinations(range(NBITS), r))

    def probe(f: tuple) -> str:
        parts = []
        for b in range(NBITS):
            if b in f:
                parts.append(f"(CASE WHEN c{b} = '1' "
                             "THEN '0' ELSE '1' END)")
            else:
                parts.append(f"c{b}")
        return " || ".join(parts)

    elems = ",\n               ".join(probe(f) for f in flips)
    arr = f"array({elems})" if engine == "spark" else f"[{elems}]"
    probes = render(
        f"SELECT vec_id, {{explode}}({arr}) AS psig FROM qb", engine)
    return f"""
    WITH full_c AS (SELECT vec_id, embedding, {sig} AS sig, {nrm} AS nrm
               FROM embeddings),
    c AS (SELECT vec_id, embedding, sig, nrm FROM (
              SELECT vec_id, embedding, sig, nrm,
                     row_number() OVER (PARTITION BY sig
                                        ORDER BY vec_id) AS _rn
              FROM full_c) _b
          WHERE _rn <= {MAX_ANN_BUCKET}),
    qb AS (SELECT vec_id, embedding, nrm, {chars} FROM full_c
           WHERE vec_id < {n_queries}),
    pr AS ({probes}),
    sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {dot} / (q.nrm * c.nrm) AS cos
        FROM pr
          JOIN c ON c.sig = pr.psig
          JOIN qb q ON q.vec_id = pr.vec_id AND c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {topk}
    """


N_CLUSTERED = 2000     # generated clustered-corpus size
N_CENTERS = 16         # mixture components (= IVF n_cells: the
                       # favourable-but-realistic case where the
                       # coarse quantizer matches the data's modes)


def clustered_corpus_sql(engine: str, n: int = N_CLUSTERED,
                         c: int = N_CENTERS, dim: int = DIM) -> str:
    """Deterministic CLUSTERED embedding corpus, generated in-query so
    both engines materialize bit-identical vectors (VERDICT r6 ask 5):
    ``c`` mixture centers whose components are multiplicative-hash
    pseudo-randoms in [-500, 500], each vector = its center
    (vec_id % c) plus a small per-(vec_id, dim) jitter in [-10, 10].
    Pure BIGINT arithmetic cast to DOUBLE at the end — no RNG, no
    floating-point accumulation, so the corpus needs no fixture file
    and can never drift between engines.

    Why it exists: the parquet embeddings fixture is isotropic random
    — the documented LSH-hostile worst case (every hyperplane splits
    every 'cluster', recall@5 0.02 single-probe at sf0.1).  Real
    scraped-corpus embeddings are strongly clustered; this corpus
    measures the ANN paths in that regime (ann_recall_clustered)."""
    from .text import render
    t = f"""
    SELECT vec_id,
           {{ltrans}}({{seq}}(0, {dim - 1}),
               i -> CAST((((vec_id % {c}) * 1315423911
                           + i * 2654435761) % 1001 - 500)
                         + ((vec_id * 97 + i * 31) % 21 - 10)
                         AS DOUBLE)) AS embedding
    FROM (SELECT CAST(v AS BIGINT) AS vec_id
          FROM (SELECT {{explode}}({{seq}}(0, {n - 1})) AS v) _e) _v
    """
    return render(t, engine)


def ann_recall_clustered_sql(engine: str, topk: int = TOPK) -> str:
    """ann_recall evaluated on the generated CLUSTERED corpus: the
    in-query corpus CTE SHADOWS the ``embeddings`` table (lexical CTE
    scoping, identical in Spark and DuckDB), so every ANN method's SQL
    runs unchanged against the clustered data.  Together with
    ann_recall (isotropic fixture) this brackets each method's recall
    between its worst case and its realistic case — the pair is the
    tuning gauge SCALE.md prescribes before picking
    NBITS/MAX_ANN_BUCKET/nprobe for a real corpus."""
    corpus = clustered_corpus_sql(engine)
    inner = ann_recall_sql(engine, topk=topk)
    return f"""
    WITH embeddings AS ({corpus})
    SELECT * FROM ({inner}) _r
    """


def ann_recall_sql(engine: str, topk: int = TOPK) -> str:
    """Recall observability for the approximate ANN paths: recall@k of
    ann_lsh and ann_ivf against the ann_bruteforce ground truth, pure
    SQL over the three result sets.  The capped LSH buckets
    (MAX_ANN_BUCKET) and the nprobe-limited IVF probe trade recall
    DETERMINISTICALLY — this query is the gauge for tuning
    NBITS/MAX_ANN_BUCKET/nprobe at a given corpus (SCALE.md,
    'similarity search').  Per-method micro-averaged recall:
    |approx ∩ exact| / |exact| over all queries."""
    bf = ann_bruteforce_sql(engine, topk=topk)
    lsh = ann_lsh_sql(engine, topk=topk)
    mp = ann_lsh_multiprobe_sql(engine, topk=topk)
    ivf = ann_ivf_sql(engine, topk=topk)
    return f"""
    WITH bf AS ({bf}),
    lshr AS ({lsh}),
    mpr AS ({mp}),
    ivfr AS ({ivf}),
    counts AS (
        SELECT 'ann_lsh' AS method,
               (SELECT COUNT(*) FROM lshr l JOIN bf b
                  ON b.query_id = l.query_id
                 AND b.neighbor_id = l.neighbor_id) AS n_hits,
               (SELECT COUNT(*) FROM bf) AS n_true
        UNION ALL
        SELECT 'ann_lsh_multiprobe' AS method,
               (SELECT COUNT(*) FROM mpr m JOIN bf b
                  ON b.query_id = m.query_id
                 AND b.neighbor_id = m.neighbor_id) AS n_hits,
               (SELECT COUNT(*) FROM bf) AS n_true
        UNION ALL
        SELECT 'ann_ivf' AS method,
               (SELECT COUNT(*) FROM ivfr v JOIN bf b
                  ON b.query_id = v.query_id
                 AND b.neighbor_id = v.neighbor_id) AS n_hits,
               (SELECT COUNT(*) FROM bf) AS n_true
    )
    SELECT method, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_true AS BIGINT) AS n_true,
           round(CAST(n_hits AS DOUBLE) / n_true, 6) AS recall_at_{topk}
    FROM counts ORDER BY method
    """


MAX_ANN_BUCKET = 256    # per-bucket candidate cap (skew guard): a
                        # bucket bloated by duplicated/clustered
                        # vectors would make the probe join quadratic
                        # in the duplicate count; candidates beyond
                        # the cap are dropped DETERMINISTICALLY
                        # (lowest vec_id kept), so recall degrades
                        # reproducibly instead of the join blowing up
                        # (8x dup-corpus stress: 16.1s -> bounded)


def ann_lsh_sql(engine: str, n_queries: int = 10, topk: int = TOPK) -> str:
    """LSH-bucketed ANN: sign signatures partition the corpus into
    2^NBITS buckets; each query searches only its own bucket. Recall is
    approximate by construction; both engines compute the identical
    approximation (candidate cap included). At scale: signature
    projection, one bucket window, then equi-join — no quadratic term
    and no unbounded bucket."""
    sig = _signature_sql(engine, "embedding")
    dot = _dot_sql(engine, "q.embedding", "c.embedding")
    nrm = _norm_sql(engine, "embedding")
    return f"""
    WITH full_c AS (SELECT vec_id, embedding, {sig} AS sig, {nrm} AS nrm
               FROM embeddings),
    c AS (SELECT vec_id, embedding, sig, nrm FROM (
              SELECT vec_id, embedding, sig, nrm,
                     row_number() OVER (PARTITION BY sig
                                        ORDER BY vec_id) AS _rn
              FROM full_c) _b
          WHERE _rn <= {MAX_ANN_BUCKET}),
    q AS (SELECT vec_id, embedding, sig, nrm FROM full_c
          WHERE vec_id < {n_queries}),
    sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {dot} / (q.nrm * c.nrm) AS cos
        FROM q JOIN c ON q.sig = c.sig AND c.vec_id != q.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {topk}
    """


def ann_sq_rerank_sql(engine: str, n_queries: int = 10,
                      topk: int = TOPK, cand: int = 4 * TOPK) -> str:
    """Scalar-quantized approximate scan + exact rerank — the
    compressed-candidate architecture every production vector store
    uses at memory-bandwidth scale (SQ8/PQ + rerank): per-dimension
    min/max over the corpus (one aggregate pass, no explode), each
    component quantized to 8 bits (floor, not round — no .5 tie for
    the engines to disagree on), an approximate cosine top-``cand``
    over the DEQUANTIZED vectors, then an exact-cosine rerank of only
    Q x cand candidates against the original vectors.

    In this dual-engine demo the dequantized values stay doubles, so
    the bandwidth saving is architectural rather than realized: the
    point under test is the two-phase shape (approximate candidate
    generation must bound what the exact phase touches) and that the
    quantization grid is engine-exact. A deployment stores the uint8
    codes (8x smaller scan) and keeps this exact plan shape. Recall
    loss at 8 bits is negligible (ann_recall-style measurement: the
    top-cand set virtually always contains the true top-k)."""
    from .text import render
    mins = ", ".join(
        f"MIN(CAST({{elem}}(embedding, {i}) AS DOUBLE))"
        for i in range(1, DIM + 1))
    maxs = ", ".join(
        f"MAX(CAST({{elem}}(embedding, {i}) AS DOUBLE))"
        for i in range(1, DIM + 1))
    arr_open, arr_close = ("array(", ")") if engine == "spark" \
        else ("[", "]")
    step = "(({elem}(mx, i) - {elem}(mn, i) + 1e-9) / 256.0)"
    code = ("floor(least(255.0, greatest(0.0, "
            "(CAST({elem}(embedding, i) AS DOUBLE) - {elem}(mn, i)) "
            f"/ {step})))")
    dq = ("{ltrans}({seq}(1, " + str(DIM) + "), "
          f"i -> {{elem}}(mn, i) + ({code} + 0.5) * {step})")
    dot_d = _dot_sql(engine, "q.demb", "c.demb")
    dot_x = _dot_sql(engine, "qq.embedding", "cc.embedding")
    nrm = _norm_sql(engine, "embedding")
    nrm_d = _norm_sql(engine, "demb")
    t = f"""
    WITH c AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings),
    stats AS (
        SELECT {arr_open}{mins}{arr_close} AS mn,
               {arr_open}{maxs}{arr_close} AS mx
        FROM embeddings
    ), dqv AS (
        SELECT vec_id, {dq} AS demb
        FROM embeddings CROSS JOIN stats
    ), dqn AS (
        SELECT vec_id, demb, {nrm_d} AS dnrm FROM dqv
    ), q AS (
        SELECT vec_id, demb, dnrm FROM dqn WHERE vec_id < {n_queries}
    ), approx AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {dot_d} / (q.dnrm * c.dnrm) AS acos_
        FROM q JOIN dqn c ON c.vec_id != q.vec_id
    ), cands AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY acos_ DESC,
                                               neighbor_id) AS ark
            FROM approx) _a
        WHERE ark <= {cand}
    ), rerank AS (
        SELECT k.query_id, k.neighbor_id,
               {dot_x} / (qq.nrm * cc.nrm) AS cos
        FROM cands k
        JOIN c qq ON qq.vec_id = k.query_id
        JOIN c cc ON cc.vec_id = k.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM rerank) _r
    WHERE rk <= {topk}
    """
    return render(t, engine)


# ---------------------------------------------------------------------------
# persistent ANN index store (VERDICT r7 ask 4)
# ---------------------------------------------------------------------------
#
# Mirrors the dedup signature store (dedup.py signature_store_write):
# the corpus-side ANN state — SQ8 grid, IVF centroids, per-vector
# quantized codes + cell assignment — is computed ONCE and persisted
# as parquet; every future query batch probes the store without ever
# touching the corpus embeddings again.  At 100 TB the store's codes
# table is ~8x smaller than the raw vectors (one int8-valued code per
# dimension instead of a double), and the grid/centroid tables are a
# handful of rows that broadcast.
#
# The grid fragments are kept in LOCKSTEP with ann_sq_rerank_sql's
# inline quantizer (same 1e-9-widened 256-level floor grid, same
# midpoint dequantization) — the two must quantize identically; the
# rerank entry is a frozen oracle so the strings are restated here
# rather than refactored out of it.

_ANN_STORE_DIR = None    # per-process registry-entry store parent
_ANN_STORE_SEQ = [0]     # per-call subdir counter (ring of 4)
import threading as _threading                       # noqa: E402
_ANN_STORE_LOCK = _threading.Lock()

ANN_STORE_CELLS = 16     # IVF coarse cells (= ann_ivf default)
ANN_STORE_NPROBE = 2     # cells probed per query (= ann_ivf default)

_SQ_STEP = "(({elem}(mx, i) - {elem}(mn, i) + 1e-9) / 256.0)"
_SQ_CODE = ("floor(least(255.0, greatest(0.0, "
            "(CAST({elem}(embedding, i) AS DOUBLE) - {elem}(mn, i)) "
            f"/ {_SQ_STEP})))")
# dequantize STORED int codes back to grid midpoints
_SQ_DQ_CODES = ("{ltrans}({seq}(1, " + str(DIM) + "), "
                "i -> {elem}(mn, i) + "
                f"(CAST({{elem}}(codes, i) AS DOUBLE) + 0.5) * {_SQ_STEP})")


def _sq_codes_expr() -> str:
    """SQ8 code array (int per dimension) from a raw embedding + the
    mn/mx grid columns."""
    return ("{ltrans}({seq}(1, " + str(DIM) + "), "
            f"i -> CAST({_SQ_CODE} AS INT))")


def _sq_stats_select(source: str) -> str:
    """Per-dim [mn, mx] grid arrays over ``source`` (engine-templated;
    the array literal shims render per engine via {arr_o}/{arr_c})."""
    mins = ", ".join(
        f"MIN(CAST({{elem}}(embedding, {i}) AS DOUBLE))"
        for i in range(1, DIM + 1))
    maxs = ", ".join(
        f"MAX(CAST({{elem}}(embedding, {i}) AS DOUBLE))"
        for i in range(1, DIM + 1))
    return (f"SELECT {{arr_o}}{mins}{{arr_c}} AS mn, "
            f"{{arr_o}}{maxs}{{arr_c}} AS mx FROM {source}")


def _arr_shims(engine: str) -> dict:
    return {"arr_o": "array(" if engine == "spark" else "[",
            "arr_c": ")" if engine == "spark" else "]"}


def ann_against_store_sql(engine: str, n_queries: int = 10,
                          topk: int = TOPK,
                          n_cells: int = ANN_STORE_CELLS,
                          nprobe: int = ANN_STORE_NPROBE) -> str:
    """Single-statement (oracle) form of the persistent-index probe:
    vec_id >= n_queries is the CORPUS (indexed: grid + centroids +
    codes), vec_id < n_queries is the NEW QUERY BATCH.  Everything
    after the ``codes`` CTE touches only store-shaped relations — the
    corpus embeddings appear exactly once, in the index-build CTEs —
    so this statement is value-identical to the staged Spark flow
    (ann_index_store_write + ann_query_store) that round-trips the
    store through parquet (ints and doubles round-trip exactly)."""
    from .text import render
    dot_vc = _dot_sql(engine, "c.embedding", "cent.cvec")
    dot_bc = _dot_sql(engine, "b.embedding", "cent.cvec")
    dot_bd = _dot_sql(engine, "b.embedding", "c.demb")
    nrm = _norm_sql(engine, "embedding")
    nrm_d = _norm_sql(engine, "demb")
    t = f"""
    WITH corpus AS (
        SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
        WHERE vec_id >= {n_queries}
    ), stats AS (
        {_sq_stats_select('corpus')}
    ), cent AS (
        SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
        FROM corpus WHERE vec_id < {n_queries + n_cells}
    ), asg AS (
        SELECT vec_id, cent_id FROM (
            SELECT c.vec_id, cent.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY {dot_vc} / (c.nrm * cent.cnrm) DESC,
                                cent.cent_id) AS rk
            FROM corpus c CROSS JOIN cent) _a
        WHERE rk = 1
    ), codes AS (
        SELECT c.vec_id, a.cent_id AS cell_id,
               {_sq_codes_expr()} AS codes
        FROM corpus c CROSS JOIN stats
        JOIN asg a ON a.vec_id = c.vec_id
    ), dq AS (
        SELECT vec_id, cell_id, {_SQ_DQ_CODES} AS demb
        FROM codes CROSS JOIN stats
    ), dqn AS (
        SELECT vec_id, cell_id, demb, {nrm_d} AS dnrm FROM dq
    ), batch AS (
        SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
        WHERE vec_id < {n_queries}
    ), qprobe AS (
        SELECT query_id, cent_id FROM (
            SELECT b.vec_id AS query_id, cent.cent_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {dot_bc} / (b.nrm * cent.cnrm) DESC,
                                cent.cent_id) AS rk
            FROM batch b CROSS JOIN cent) _p
        WHERE rk <= {nprobe}
    ), sims AS (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               {dot_bd} / (b.nrm * c.dnrm) AS cos
        FROM qprobe qp
          JOIN dqn c ON c.cell_id = qp.cent_id
          JOIN batch b ON b.vec_id = qp.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {topk}
    """
    return render(t, engine, **_arr_shims(engine))


def ann_index_store_write(spark, emb_df, store_path: str,
                          n_cells: int = ANN_STORE_CELLS) -> None:
    """Publish the ANN index store for ``emb_df`` (embeddings schema:
    vec_id, embedding); see _ann_index_build for the layout."""
    from .storecache import publish_store

    publish_store(store_path, lambda tmp: _ann_index_build(
        spark, emb_df, tmp, n_cells))


def _ann_index_build(spark, emb_df, store_path: str,
                     n_cells: int) -> None:
    """Build the ANN index for ``emb_df`` (embeddings schema: vec_id,
    embedding) into the NEW directory ``store_path``:

      {store}/grid       1 row   per-dim [mn, mx] arrays (SQ8 grid)
      {store}/centroids  n_cells (cent_id, cvec, cnrm) — raw vectors,
                                 tiny, broadcast at query time
      {store}/codes      |N|     (vec_id, cell_id, codes, dnrm) —
                                 int codes + dequantized norm, ~8x
                                 smaller than the raw embeddings

    Centroids are the ``n_cells`` lowest-vec_id rows (deterministic;
    a production deployment would k-means and store those instead —
    the store layout is unchanged).  Build cost: one aggregate pass
    for the grid, one TakeOrdered for centroids, one projection pass
    for codes — no shuffle of the corpus, no self-join.

    The grid and centroid passes are INDEPENDENT single-pass jobs
    over the same input, so they run concurrently from a 2-thread
    pool (guide §2.6: actions are only sequential because the driver
    calls them sequentially; the second job's tasks back-fill the
    idle cores behind the first job's tail) — at any scale both are
    small scans whose wall-clock would otherwise simply add.  Codes
    depend on both and still run after.  Values are unchanged: both
    plans are fully built before the pool starts (no shared mutable
    session state inside the threads beyond the thread-safe catalog),
    and the codes statement reads the same written parquet as
    before."""
    from concurrent.futures import ThreadPoolExecutor

    from .text import render
    emb_df.createOrReplaceTempView("__ann_store_in")
    grid_df = spark.sql(render(_sq_stats_select("__ann_store_in"),
                               "spark", **_arr_shims("spark")))
    nrm = _norm_sql("spark", "embedding")
    cent = spark.sql(f"""
        SELECT vec_id AS cent_id, embedding AS cvec, {nrm} AS cnrm
        FROM __ann_store_in""").orderBy("cent_id").limit(n_cells)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fg = pool.submit(lambda: grid_df.write
                         .parquet(f"{store_path}/grid"))
        fc = pool.submit(lambda: cent.write
                         .parquet(f"{store_path}/centroids"))
        fg.result()
        fc.result()
    # read_store read-backs: the probe (ann_query_store) re-reads the
    # same paths and hits this memo instead of re-resolving
    read_store(spark, f"{store_path}/centroids") \
        .createOrReplaceTempView("__ann_store_cent")
    read_store(spark, f"{store_path}/grid") \
        .createOrReplaceTempView("__ann_store_grid")
    spark.sql(render(
        _codes_sql("__ann_store_in", "__ann_store_grid",
                   "__ann_store_cent"),
        "spark", **_arr_shims("spark"))) \
        .write.parquet(f"{store_path}/codes")


def _codes_sql(in_view: str, grid_view: str, cent_view: str) -> str:
    """Codes-building statement over an input embeddings view and a
    (grid, centroids) pair: nearest-cell assignment, SQ8 codes, and
    the dequantized norm.  Shared by the initial store build and the
    APPEND path, which runs it with the STORED grid/centroids so
    appended codes quantize on the identical lattice."""
    nrm = _norm_sql("spark", "embedding")
    dot_vc = _dot_sql("spark", "c.embedding", "cent.cvec")
    nrm_d = _norm_sql("spark", "demb")
    return f"""
    WITH c AS (
        SELECT vec_id, embedding, {nrm} AS nrm FROM {in_view}
    ), stats AS (SELECT * FROM {grid_view}),
    asg AS (
        SELECT vec_id, cent_id FROM (
            SELECT c.vec_id, cent.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY {dot_vc} / (c.nrm * cent.cnrm) DESC,
                                cent.cent_id) AS rk
            FROM c CROSS JOIN {cent_view} cent) _a
        WHERE rk = 1
    ), codes AS (
        SELECT c.vec_id, a.cent_id AS cell_id,
               {_sq_codes_expr()} AS codes
        FROM c CROSS JOIN stats
        JOIN asg a ON a.vec_id = c.vec_id
    ), dq AS (
        SELECT vec_id, cell_id, codes, {_SQ_DQ_CODES} AS demb
        FROM codes CROSS JOIN stats
    )
    SELECT vec_id, cell_id, codes, {nrm_d} AS dnrm FROM dq
    """


def ann_index_store_append(spark, store_path: str, emb_df) -> None:
    """Append a NEW vector batch to a persisted ANN index: codes and
    cell assignments compute against the STORED grid and centroids
    (frozen — appended vectors quantize on the identical lattice, so
    probes mix old and new codes coherently) and append to the codes
    parquet under the shared store lock.  The corpus codes are never
    rewritten; only their vec_id column is scanned, to skip vectors
    the store already holds — a replayed append would otherwise give
    a neighbour two ranks in every probe.  Out-of-grid components
    clamp to the edge cells of the frozen lattice (the standard SQ8
    behavior) — re-fitting the grid would require re-encoding the
    corpus, which is exactly what the store exists to avoid."""
    import os

    from pyspark.sql import functions as F

    from .storecache import append_store
    from .text import render
    codes = f"{store_path}/codes"
    if os.path.isdir(codes):
        held = read_store(spark, codes).select("vec_id").join(
            F.broadcast(emb_df.select("vec_id")), "vec_id", "left_semi")
        emb_df = emb_df.join(held, "vec_id", "left_anti")
    emb_df.createOrReplaceTempView("__ann_append_in")
    # read_store (r17, ADVICE r16): grid and centroids are FROZEN
    # relations — the ideal listing-keyed memo target; the append-only
    # codes write never touches them
    read_store(spark, f"{store_path}/grid") \
        .createOrReplaceTempView("__ann_append_grid")
    read_store(spark, f"{store_path}/centroids") \
        .createOrReplaceTempView("__ann_append_cent")
    append_store(store_path, {"codes": spark.sql(render(
        _codes_sql("__ann_append_in", "__ann_append_grid",
                   "__ann_append_cent"),
        "spark", **_arr_shims("spark")))})


def ann_query_store(spark, store_path: str, batch_df, topk: int = TOPK,
                    nprobe: int = ANN_STORE_NPROBE):
    """Probe a NEW query batch against the persisted index WITHOUT
    touching the corpus embeddings: centroids pick each query's
    ``nprobe`` cells (broadcast — n_cells rows), the probe equi-joins
    the codes table on cell_id, and scoring dequantizes codes on the
    fly (the SQ8 scan: ~8x less I/O than raw vectors).  Returns
    (query_id, neighbor_id, cosine, rk) — value-identical to
    ann_against_store_sql when the store was built from the same
    corpus."""
    from .text import render
    batch_df.createOrReplaceTempView("__ann_q_batch")
    # read_store (r16): listing-keyed relation memo over the three
    # immutable-at-read store relations
    read_store(spark, f"{store_path}/grid") \
        .createOrReplaceTempView("__ann_q_grid")
    read_store(spark, f"{store_path}/centroids") \
        .createOrReplaceTempView("__ann_q_cent")
    read_store(spark, f"{store_path}/codes") \
        .createOrReplaceTempView("__ann_q_codes")
    dot_bc = _dot_sql("spark", "b.embedding", "cent.cvec")
    dot_bd = _dot_sql("spark", "b.embedding", "c.demb")
    nrm = _norm_sql("spark", "embedding")
    t = f"""
    WITH batch AS (
        SELECT vec_id, embedding, {nrm} AS nrm FROM __ann_q_batch
    ), qprobe AS (
        SELECT query_id, cent_id FROM (
            SELECT b.vec_id AS query_id, cent.cent_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {dot_bc} / (b.nrm * cent.cnrm) DESC,
                                cent.cent_id) AS rk
            FROM batch b CROSS JOIN __ann_q_cent cent) _p
        WHERE rk <= {nprobe}
    ), dq AS (
        SELECT vec_id, cell_id, {_SQ_DQ_CODES} AS demb, dnrm
        FROM __ann_q_codes CROSS JOIN __ann_q_grid
    ), sims AS (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               {dot_bd} / (b.nrm * c.dnrm) AS cos
        FROM qprobe qp
          JOIN dq c ON c.cell_id = qp.cent_id
          JOIN batch b ON b.vec_id = qp.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {topk}
    """
    return spark.sql(render(t, "spark", **_arr_shims("spark")))


def ann_against_store_fn(spark, sf_dir: str, n_queries: int = 10,
                         topk: int = TOPK,
                         n_cells: int = ANN_STORE_CELLS,
                         nprobe: int = ANN_STORE_NPROBE):
    """Registry twin of ann_against_store_sql, exercising the REAL
    store flow: build the index from the corpus split, round-trip it
    through parquet, probe with the query split.  The probe plan
    never scans the embeddings fixture (asserted by the e2e test).

    LAZINESS CONTRACT (ADVICE r8): the returned DataFrame reads the
    per-call store subdir, and the ring cleanup deletes subdir
    ``v(n-4)`` on the n-th call — so at most THREE earlier returned
    DataFrames stay actionable; a result held lazy across more than
    3 subsequent calls may fail or read nothing when finally acted
    on.  Act on (collect/write/checkpoint) results you intend to
    keep before invoking this entry repeatedly."""
    import os
    import shutil

    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet")
    # a ring of per-call subdirs under ONE per-process parent
    # (code-review r8 x3): unique to this process so concurrent
    # sessions never touch each other's index; per-call subdirs so a
    # previously RETURNED lazy DataFrame keeps reading its own intact
    # store (an in-place overwrite would clobber it mid-action); the
    # ring bound (keep the last 4) stops repeated invocations leaking
    # a parquet index per call.  The lock covers the check-then-set
    # and the counter.
    global _ANN_STORE_DIR
    with _ANN_STORE_LOCK:
        if _ANN_STORE_DIR is None:
            import atexit
            import tempfile
            _ANN_STORE_DIR = tempfile.mkdtemp(prefix="hb_ann_store_")
            # the ring bounds DISK during the process; the parent
            # itself is reclaimed at interpreter exit (ADVICE r8 —
            # it used to outlive the process)
            atexit.register(shutil.rmtree, _ANN_STORE_DIR,
                            ignore_errors=True)
        _ANN_STORE_SEQ[0] += 1
        n = _ANN_STORE_SEQ[0]
    store = os.path.join(_ANN_STORE_DIR, f"v{n}")
    stale = os.path.join(_ANN_STORE_DIR, f"v{n - 4}")
    shutil.rmtree(stale, ignore_errors=True)
    # the per-call dir is private to this call, so the index builds
    # in place (no publish rename): the probe below then hits the
    # build's read_store read-backs of grid and centroids
    _ann_index_build(
        spark, emb.where(f"vec_id >= {n_queries}"), store, n_cells)
    return ann_query_store(
        spark, store, emb.where(f"vec_id < {n_queries}"),
        topk=topk, nprobe=nprobe)


def ann_store_probe_fn(spark, sf_dir: str, n_queries: int = 10,
                       topk: int = TOPK,
                       n_cells: int = ANN_STORE_CELLS,
                       nprobe: int = ANN_STORE_NPROBE):
    """PROBE-ONLY twin of ann_against_store_fn (VERDICT r8 ask 3,
    mirroring dedup_incremental_store_entry_fn): the index is built
    once per fixture identity into the per-user store cache and
    REUSED across runs, so the measured cost is the batch probe
    against the persisted SQ8/IVF index — the production
    index-once/query-many amortization — not the per-run index build
    ann_against_store pays.  Value-identical to ann_against_store_sql
    (same corpus split, same frozen deterministic centroids/grid)."""
    from .storecache import fixture_store

    src = f"{sf_dir}/embeddings.parquet"
    store = fixture_store("annidx", src, n_queries, n_cells)
    emb = read_spread(spark, src)
    ann_index_store_write(spark, emb.where(f"vec_id >= {n_queries}"),
                          store, n_cells=n_cells)
    return ann_query_store(
        spark, store, emb.where(f"vec_id < {n_queries}"),
        topk=topk, nprobe=nprobe)


def _kmeans_ctes(engine: str, k: int, iters: int,
                 dim: int) -> tuple[str, str, str]:
    """The shared Lloyd-iteration CTE chain -> (cte_body,
    last_assignment_cte, last_centroid_cte); see kmeans_sql for the
    integer-exactness contract."""
    from .text import render
    idiv = "div" if engine == "spark" else "//"
    lo, hi = ("0", str(dim - 1)) if engine == "spark" \
        else ("1", str(dim))
    quant = render(
        "{ltrans}(embedding, x -> CAST(round(CAST(x AS DOUBLE) "
        "* 1000000) AS BIGINT) + 1000000)", engine)
    ctes = [f"""
    q AS (SELECT vec_id, {quant} AS qv FROM embeddings),
    pts AS (
        SELECT vec_id, i AS pos, qv[i] AS val
        FROM (SELECT vec_id, qv, {render('{explode}(ia)', engine)} AS i
              FROM (SELECT vec_id, qv, {render('{seq}', engine)}({lo}, {hi})
                    AS ia FROM q) _s) _p
    ),
    c0 AS (SELECT vec_id AS cluster, pos, val FROM pts
           WHERE vec_id < {k})"""]
    prev = "c0"
    last_assign = None
    for it in range(1, iters + 1):
        a, b, m, c = f"a{it}", f"b{it}", f"m{it}", f"c{it}"
        ctes.append(f"""
    {a} AS (
        SELECT p.vec_id, c.cluster,
               CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT)
                   AS d
        FROM pts p JOIN {prev} c ON c.pos = p.pos
        GROUP BY p.vec_id, c.cluster
    ), {b} AS (
        SELECT vec_id, cluster, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cluster) AS rn
        FROM {a}
    ), {m} AS (SELECT vec_id, cluster, d FROM {b} WHERE rn = 1
    ), {c} AS (
        SELECT m.cluster, p.pos,
               SUM(p.val) {idiv} COUNT(*) AS val
        FROM pts p JOIN {m} m ON m.vec_id = p.vec_id
        GROUP BY m.cluster, p.pos
    )""")
        prev = c
        last_assign = m
    return ",".join(ctes), last_assign, prev


def kmeans_sql(engine: str, k: int = 8, iters: int = 2,
               dim: int = DIM, sample_per_cluster: int = 0) -> str:
    """Integer-exact k-means over the embedding corpus — the
    clustering half of cluster-balanced ("diversity") sampling, a
    standard curation step for spreading a training mix across
    semantic regions instead of letting one dominate.

    Engine-exactness (the corpus_drift discipline applied to an
    ITERATIVE float algorithm): components are quantized once per row
    to offset micro-units (round(x*1e6) + 1e6, non-negative so
    integer division truncates identically in both engines — Spark
    `div` truncates toward zero, DuckDB `//` floors, and the two
    agree only for non-negative operands).  Distances, assignments,
    centroid means, and inertia are then PURE INTEGER arithmetic:
    partition-order-independent and bit-identical across engines, so
    even the argmin tie-break (ORDER BY d, cluster) is stable.  The
    uniform offset cancels in every distance.

    Scale shape: vectors live in LONG FORM (vec_id, pos, val) — one
    explode; each iteration is (a) a distance aggregation against the
    k x dim centroid table (broadcast-sized: k*dim rows regardless of
    corpus), grouped (vec_id, cluster) with map-side partials, (b) an
    argmin window per vec_id, (c) per-(cluster, pos) integer means.
    Iterations unroll as CTEs — ``iters`` is fixed at plan time, the
    Spark/100 TB variant loops the same three steps with a
    localCheckpoint per round.  ``sample_per_cluster`` > 0 appends
    the balanced-sample tail: top-m per final cluster by the
    deterministic multiplicative hash (stratified_sample's
    convention), emitting the kept members instead of cluster
    stats."""
    body, last_assign, prev = _kmeans_ctes(engine, k, iters, dim)
    if sample_per_cluster > 0:
        # reduce BEFORE the multiply (ADVICE r13 overflow class):
        # identical residues, but the product stays < 2^61 instead of
        # overflowing BIGINT for vec_id > ~3.4e9
        keep_hash = "((vec_id % 1000000007) * 2654435761) % 1000000007"
        return f"""
    WITH {body}
    SELECT cluster AS cluster_id, vec_id
    FROM (SELECT cluster, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY cluster
                                    ORDER BY {keep_hash}, vec_id)
                     AS krn
          FROM {last_assign}) _r
    WHERE krn <= {sample_per_cluster}
    """
    return f"""
    WITH {body},
    stats AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(d) AS BIGINT) AS inertia
        FROM {last_assign} GROUP BY cluster
    ), cmass AS (
        SELECT cluster, CAST(SUM(val) AS BIGINT) AS centroid_mass
        FROM {prev} GROUP BY cluster
    )
    SELECT s.cluster AS cluster_id, s.n_members, s.inertia,
           cm.centroid_mass
    FROM stats s JOIN cmass cm ON cm.cluster = s.cluster
    """


def semdedup_sql(engine: str, k: int = 8, iters: int = 2,
                 dim: int = DIM, threshold: float = 0.35) -> str:
    """SemDeDup removal manifest (Abbas et al., "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication",
    2023): k-means the embedding corpus, then within each cluster
    flag every vector whose cosine to a LOWER-id cluster-mate meets
    the threshold (keep-first, the manifest convention shared with
    the exact/MinHash dedup families).  Clustering is the house
    integer-exact Lloyd chain (kmeans_sql); the within-cluster cosine
    is the bit-identical sequential fold shared with
    dedup.embedding_neardup_sql.

    Output: one row per vector — (vec_id, cluster_id, removed,
    dup_of) with dup_of = -1 for keepers.

    Scale: the pairwise stage is quadratic WITHIN a cluster by
    design (the paper's trade: k controls cluster size, so pick
    k ~ N / target_block); the executable Spark path
    (`semdedup_fn`) enforces the quadratic block cap and names
    dedup_embedding_lsh as the unclustered scale twin.  Spark CANNOT
    run this template directly — the assignment CTE is referenced
    three times and the optimizer re-inlines the whole Lloyd chain
    per reference (the dsir_select lesson), so the fn materializes
    assignments once via localCheckpoint; DuckDB runs this template
    as the oracle."""
    body, last_assign, _prev = _kmeans_ctes(engine, k, iters, dim)
    if engine == "spark":
        dot = ("aggregate(zip_with(a.embedding, b.embedding, "
               "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
               "0D, (acc, v) -> acc + v)")
        norm = ("sqrt(aggregate(embedding, 0D, "
                "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    else:
        dot = ("list_dot_product(a.embedding::DOUBLE[], "
               "b.embedding::DOUBLE[])")
        norm = ("sqrt(list_dot_product(embedding::DOUBLE[], "
                "embedding::DOUBLE[]))")
    return f"""
    WITH {body},
    asg AS (SELECT vec_id, cluster FROM {last_assign}),
    nv AS (SELECT vec_id, embedding, {norm} AS nrm FROM embeddings),
    pairs AS (
        SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
        FROM (SELECT n1.vec_id, n1.embedding, n1.nrm, s1.cluster
              FROM nv n1 JOIN asg s1 ON s1.vec_id = n1.vec_id) a
        JOIN (SELECT n2.vec_id, n2.embedding, n2.nrm, s2.cluster
              FROM nv n2 JOIN asg s2 ON s2.vec_id = n2.vec_id) b
          ON b.cluster = a.cluster AND b.vec_id > a.vec_id
        WHERE {dot} / (a.nrm * b.nrm) >= {threshold}
        GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.cluster AS cluster_id,
           CASE WHEN p.dup_of IS NULL THEN 0 ELSE 1 END AS removed,
           COALESCE(p.dup_of, -1) AS dup_of
    FROM asg s LEFT JOIN pairs p ON p.vec_id = s.vec_id
    """


def _semdedup_cluster_kernel(threshold: float):
    """Per-cluster within-block cosine manifest as a vectorized numpy
    kernel (r16, guide §4.2): the SQL form evaluated an interpreted
    `aggregate(zip_with(...))` fold PER CANDIDATE PAIR (~|block|^2
    x DIM lambda evaluations per cluster); this computes the same
    values with DIM vectorized ops per block.

    BIT-IDENTICAL to the SQL fold by construction: dot and norm
    accumulate in ASCENDING DIMENSION ORDER with a float64
    accumulator starting at 0.0 — the exact sequence of IEEE double
    (multiply, add) the `aggregate(..., 0D, (acc, v) -> acc + v)`
    fold performs (float32 -> float64 casts are exact; numpy emits
    separate multiply and add, no FMA contraction) — and the
    comparison is the same `dot / (nrm_a * nrm_b) >= threshold`
    expression tree.  Row tiling bounds the pairwise matrix at
    tile x |block| doubles; per-pair arithmetic order is untouched
    by the tiling."""
    import numpy as np
    import pandas as pd

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        n = len(pdf)
        emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        dim = emb.shape[1]
        # norms: sequential per-dimension fold, vectorized across rows
        acc = np.zeros(n, np.float64)
        for i in range(dim):
            acc = acc + emb[:, i] * emb[:, i]
        nrm = np.sqrt(acc)
        # dup_idx[b] = smallest a-index (== smallest vec_id: sorted)
        # with cosine >= threshold; -1 = keeper
        dup_idx = np.full(n, -1, np.int64)
        tile = 2048
        for lo in range(0, n, tile):
            hi = min(lo + tile, n)
            a = emb[lo:hi]
            dot = np.zeros((hi - lo, n), np.float64)
            for i in range(dim):
                dot = dot + a[:, i][:, None] * emb[:, i][None, :]
            ratio = dot / (nrm[lo:hi][:, None] * nrm[None, :])
            mask = ratio >= threshold
            # strict upper triangle in GLOBAL index space (b > a)
            gi = np.arange(lo, hi)[:, None]
            mask &= np.arange(n)[None, :] > gi
            hit = mask.any(axis=0)
            first = np.argmax(mask, axis=0) + lo
            upd = hit & (dup_idx < 0)
            dup_idx[upd] = first[upd]
        vec = pdf["vec_id"].to_numpy()
        return pd.DataFrame({
            "vec_id": vec,
            "cluster_id": pdf["cluster"].to_numpy(),
            "removed": (dup_idx >= 0).astype(np.int32),
            "dup_of": np.where(dup_idx >= 0, vec[np.maximum(dup_idx, 0)],
                               -1).astype(np.int64),
        })
    return kern


def semdedup_fn(spark, sf_dir: str, k: int = 8, iters: int = 2,
                threshold: float = 0.35, cap: int | None = None,
                enforce: bool = True):
    """Executable Spark strategy for `dedup_semdedup`: the Lloyd
    assignments materialize ONCE (localCheckpoint — Spark would
    otherwise re-run the whole chain per CTE reference), the cluster
    block cap guards the quadratic stage, and the within-cluster
    cosine manifest runs as a per-cluster Arrow kernel
    (_semdedup_cluster_kernel — r16; values bit-identical to the
    previous interpreted-HOF SQL pass, oracle-pinned)."""
    from .dedup import check_quadratic_block_cap
    with scoped_parser_mode(spark, "true"):
        emb_df = read_spread(spark, f"{sf_dir}/embeddings.parquet")
        emb_df.createOrReplaceTempView("embeddings")
        body, last_assign, _prev = _kmeans_ctes("spark", k, iters, DIM)
        assign = spark.sql(
            f"WITH {body} SELECT vec_id, cluster FROM {last_assign}"
        ).localCheckpoint()
        assign.createOrReplaceTempView("semdedup_asg")
        check_quadratic_block_cap(
            spark, "semdedup_asg", "cluster", op="dedup_semdedup",
            scale_twin="dedup_embedding_lsh (or a larger k)",
            cap=cap, enforce=enforce)
        return (emb_df.select("vec_id", "embedding")
                .join(assign, "vec_id")
                .groupBy("cluster")
                .applyInPandas(
                    _semdedup_cluster_kernel(threshold),
                    schema=("vec_id long, cluster_id long, "
                            "removed int, dup_of long")))
