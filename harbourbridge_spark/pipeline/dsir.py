"""DSIR-style data selection: hashed n-gram importance weights
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023).

A pretraining pipeline rarely wants raw crawl text in proportion to
its natural mixture — it wants raw documents that LOOK LIKE a trusted
target corpus (Wikipedia, books).  DSIR scores every raw document by
an importance weight log p_target(x) - log p_raw(x) under hashed
bag-of-n-gram unigram+bigram models and resamples by that weight.

House adaptation for engine-exact oracles: the real-valued log ratio
is replaced by the INTEGER rarity-ladder difference (the surprisal_sql
convention — floor-log2 buckets computed with pure integer
comparisons, no floating log anywhere):

    score(doc) = sum over gram occurrences of (k_raw(b) - k_tgt(b))

where k(b) is the floor-log2 rarity bucket of the gram's hashed
feature b under add-1 smoothing: the smallest k with
(n(b) + 1) * 2^k >= (total + B).  A gram COMMON in the target but
RARE in raw scores positive, exactly the sign structure of the paper's
log ratio, quantized to whole bits.  The target corpus is the lang
= 'en' slice (a real deployment unions Wikipedia/books under the same
schema).

Scale shape: grams explode into B = 1024 hashed buckets, so both
models are <=1024-row aggregates that BROADCAST back onto the gram
stream; the only corpus-sized shuffle is the final per-doc groupBy.
Selection avoids any global sort: the cutoff is the corpus MEAN score
(one broadcast scalar; exact integer cross-multiply comparison
score * n_docs >= score_total), so the manifest stays embarrassingly
parallel — the 100 TB path computes the same rule with no
single-partition window anywhere.
"""

from __future__ import annotations

import pandas as pd

from ..confscope import scoped_parser_mode
from ..scan import read_spread

from .hashing import hash48
from .text import TOKENS, render

N_BUCKETS = 1024


def _ladder(n: str, t: str, kmax: int = 40) -> str:
    """Smallest k with n * 2^k >= t, as a pure-integer CASE ladder
    (the surprisal_sql idiom; evaluation stops at the first true
    branch, so the products never overflow for totals < 2^62)."""
    return "CASE " + " ".join(
        f"WHEN ({n}) * {1 << k} >= {t} THEN {k}"
        for k in range(kmax + 1)) + f" ELSE {kmax + 1} END"


def _bigram_expr(engine: str) -> str:
    """Bigram array over a bound token-array column ``tk``: 1-based
    indexing outside lambdas in both engines; Spark lambda bracket
    indexing is 0-based, so shift the sequence (the decontaminate_sql
    idiom)."""
    lo, hi = (1, "{alen}(tk) - 1") if engine != "spark" \
        else (0, "{alen}(tk) - 2")
    return render("{ltrans}({seq}(%s, %s), i -> tk[i] || ' ' "
                  "|| tk[i+1])" % (lo, hi), engine)


def _bucket_expr(engine: str) -> str:
    return f"({hash48('gram', engine)}) % {N_BUCKETS}"


def _grams_to_feats(engine: str, tk_rel: str) -> str:
    """gramstream + feats CTE bodies over a token relation
    ``tk_rel(doc_id, lang, tk)``."""
    alen = render("{alen}", engine)
    explode = render("{explode}", engine)
    return f"""
    gramstream AS (
        SELECT doc_id, lang, {explode}(tk) AS gram FROM {tk_rel}
        UNION ALL
        SELECT doc_id, lang, {explode}(bg) AS gram
        FROM (SELECT doc_id, lang, {_bigram_expr(engine)} AS bg
              FROM {tk_rel} WHERE {alen}(tk) >= 2) _b
    ), feats AS (
        SELECT doc_id, lang, {_bucket_expr(engine)} AS b
        FROM gramstream
    )"""


def _feats_cte(engine: str) -> str:
    """WITH chain up to ``feats(doc_id, lang, b)`` — the hashed
    unigram+bigram occurrence stream (the shared dual-engine
    template form)."""
    toks = render(TOKENS, engine)
    return f"""
    WITH tk AS (
        SELECT doc_id, lang, {toks} AS tk FROM documents
    ), {_grams_to_feats(engine, 'tk')}"""


def _scored_cte(engine: str) -> str:
    """Shared CTE chain: tokens -> unigram+bigram stream -> hashed
    buckets -> raw/target bucket models -> per-doc integer score."""
    t = f"""{_feats_cte(engine)}, rawc AS (
        SELECT b, COUNT(*) AS n FROM feats GROUP BY b
    ), tgtc AS (
        SELECT b, COUNT(*) AS n FROM feats WHERE lang = 'en'
        GROUP BY b
    ), rt AS (
        SELECT CAST(SUM(n) + {N_BUCKETS} AS BIGINT) AS t FROM rawc
    ), tt AS (
        SELECT CAST(COALESCE(SUM(n), 0) + {N_BUCKETS} AS BIGINT) AS t
        FROM tgtc
    ), model AS (
        SELECT r.b,
               {_ladder('r.n + 1', 'rt.t')} AS k_raw,
               {_ladder('COALESCE(tg.n, 0) + 1', 'tt.t')} AS k_tgt
        FROM rawc r
        LEFT JOIN tgtc tg ON tg.b = r.b
        CROSS JOIN rt CROSS JOIN tt
    ), scored AS (
        SELECT f.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(m.k_raw - m.k_tgt) AS BIGINT) AS score
        FROM feats f JOIN model m ON m.b = f.b
        GROUP BY f.doc_id
    )
    """
    return render(t, engine)


def dsir_importance_sql(engine: str) -> str:
    """Per-document integer importance score + gram mass."""
    return _scored_cte(engine) + """
    SELECT doc_id, n_grams, score FROM scored
    """


def dsir_select_sql(engine: str) -> str:
    """Selection manifest: keep documents scoring above the corpus
    MEAN (exact integer cross-multiply — no global sort, no float);
    every doc gets a row with its score and the selected flag.
    DuckDB runs this template as the oracle; the SPARK strategy is
    `dsir_select_fn` — Spark's optimizer INLINES the twice-referenced
    `scored` CTE and re-runs the whole gram pipeline for the 1-row
    mean (observed: 5 nested-loop nodes, doubled scan), so the fn
    materializes `scored` once via localCheckpoint (the k-means/BPE
    convention) and joins the scalar against it."""
    return _scored_cte(engine) + """
    , cut AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(score) AS BIGINT) AS score_total
        FROM scored
    )
    SELECT s.doc_id, s.score,
           CASE WHEN s.score * c.n_docs >= c.score_total
                THEN 1 ELSE 0 END AS selected
    FROM scored s CROSS JOIN cut c
    """


def _fcnt_kernel():
    """Fused tokenize→gram→bucket→per-doc-count Arrow kernel (r16,
    guide §4.1/§4.2/§4.5): one mapInPandas stage computing, per
    document, the (lang, b, c) bucket counts the SQL pipeline produced
    with a checkpointed token materialization + explode + md5 + a
    corpus-wide groupBy shuffle.  Because every document arrives whole
    in one input row, the per-(doc_id, lang, b) aggregation happens
    IN the kernel — no exchange at all before the compact count
    relation.  Bit-equivalence with the SQL template, piece by piece:
    token split is re.split(r'\\s+', nt, re.ASCII) — the proven Java
    twin (same ASCII class, both keep empty fields; the SimHash/gram
    kernel idiom pinned by the 300-case fuzz); bigrams are
    tk[i] || ' ' || tk[i+1] for docs with >= 2 tokens; the bucket is
    int(md5(gram utf-8)[:12 hex], 16) % 1024 — exactly hash48(gram)
    % 1024, i.e. CAST(conv(substring(md5(gram),1,12),16,10) AS
    BIGINT) % 1024 (48 bits, so BIGINT % is plain non-negative
    modulo); NULL
    text yields no rows (SQL: explode of NULL emits nothing).  The
    gram→hash48 memo (hashing.hash48_memo) is per-task state
    amortized over batches (guide §4.5), capped to bound worker
    memory."""
    import re
    from collections import Counter

    from .hashing import hash48_memo

    memo: dict = {}

    def run(batches):
        for pdf in batches:
            doc_out: list = []
            lang_out: list = []
            b_out: list = []
            c_out: list = []
            for doc_id, lang, nt in zip(pdf["doc_id"], pdf["lang"],
                                        pdf["nt"]):
                if nt is None:
                    continue
                toks = re.split(r"\s+", nt, flags=re.ASCII)
                grams = toks + [toks[i] + " " + toks[i + 1]
                                for i in range(len(toks) - 1)]
                cnt = Counter([h % N_BUCKETS
                               for h in hash48_memo(grams, memo)])
                for b, c in cnt.items():
                    doc_out.append(doc_id)
                    lang_out.append(lang)
                    b_out.append(b)
                    c_out.append(c)
            yield pd.DataFrame({"doc_id": doc_out, "lang": lang_out,
                                "b": b_out, "c": c_out})

    return run


def _scored_df(spark, sf_dir: str):
    """Spark strategy for the scored relation — OUTPUT-identical to
    the template's `scored` CTE, with the gram pipeline run ONCE.

    The template references `feats` three times (raw model, target
    model, per-doc score) and Spark INLINES CTEs, so the SQL form
    tokenizes + explodes + md5-hashes the whole corpus THREE times
    per query (it was the two slowest bench entries).  Strategy:
    collapse the gram stream to per-(doc_id, lang, bucket) COUNTS —
    rows bounded by min(n_grams, 1024) per doc, ints only — via the
    fused Arrow kernel (one lazy Python stage, aggregation inside the
    kernel, zero shuffles) and localCheckpoint that compact relation;
    models and scores are exact linear functions of the counts
    (COUNT(*) = SUM(c), SUM(k_raw-k_tgt) over occurrences =
    SUM(c*(k_raw-k_tgt))), so values are bit-identical to the
    template the oracle runs."""
    from pyspark.sql import functions as F

    with scoped_parser_mode(spark, "true"):
        # read_spread: the fixture parquet is a single row group, so
        # without it the whole kernel serializes into 1-2 tasks
        docs = (read_spread(spark, f"{sf_dir}/documents.parquet")
                .select("doc_id", "lang",
                        F.expr("trim(lower(text))").alias("nt")))
        fcnt = docs.mapInPandas(
            _fcnt_kernel(),
            "doc_id bigint, lang string, b bigint, c bigint"
        ).localCheckpoint()
        fcnt.createOrReplaceTempView("__dsir_fcnt")
        return spark.sql(f"""
            WITH rawc AS (
                SELECT b, SUM(c) AS n FROM __dsir_fcnt GROUP BY b
            ), tgtc AS (
                SELECT b, SUM(c) AS n FROM __dsir_fcnt WHERE lang = 'en'
                GROUP BY b
            ), rt AS (
                SELECT CAST(SUM(n) + {N_BUCKETS} AS BIGINT) AS t FROM rawc
            ), tt AS (
                SELECT CAST(COALESCE(SUM(n), 0) + {N_BUCKETS} AS BIGINT)
                    AS t FROM tgtc
            ), model AS (
                SELECT r.b,
                       {_ladder('r.n + 1', 'rt.t')} AS k_raw,
                       {_ladder('COALESCE(tg.n, 0) + 1', 'tt.t')} AS k_tgt
                FROM rawc r
                LEFT JOIN tgtc tg ON tg.b = r.b
                CROSS JOIN rt CROSS JOIN tt
            )
            SELECT f.doc_id,
                   CAST(SUM(f.c) AS BIGINT) AS n_grams,
                   CAST(SUM(f.c * (m.k_raw - m.k_tgt)) AS BIGINT) AS score
            FROM __dsir_fcnt f JOIN model m ON m.b = f.b
            GROUP BY f.doc_id
        """)


def dsir_importance_fn(spark, sf_dir: str):
    """Spark strategy for `dsir_importance` — see ``_scored_df``."""
    return _scored_df(spark, sf_dir)


def dsir_select_fn(spark, sf_dir: str):
    """Spark strategy for `dsir_select` (same output as the DuckDB
    template) — one gram-pipeline pass, scores materialized, then
    the broadcast mean-cutoff comparison."""
    scored = _scored_df(spark, sf_dir).localCheckpoint()
    scored.createOrReplaceTempView("dsir_scored")
    return spark.sql("""
        SELECT s.doc_id, s.score,
               CASE WHEN s.score * c.n_docs >= c.score_total
                    THEN 1 ELSE 0 END AS selected
        FROM dsir_scored s CROSS JOIN (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(score) AS BIGINT) AS score_total
            FROM dsir_scored) c
    """)
