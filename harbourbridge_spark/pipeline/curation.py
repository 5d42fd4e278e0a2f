"""Corpus-curation operators a large-scale training-data pipeline
needs beyond per-document scoring: benchmark decontamination,
deterministic stratified sampling, and token-budget sequence packing.

Like pipeline/text.py, every operator is one dual-engine SQL template
(Spark executes it over temp views; the DuckDB rendering IS the
correctness oracle) built from engine-portable integer expressions —
no floating point in any decision, so results are bit-identical across
engines.

Scale designs (100 TB):

- decontamination: the eval-set gram dictionary is tiny relative to
  the corpus (benchmarks are MBs, corpora are TBs), so the gram join
  is a BROADCAST join against the train side's exploded grams; the
  production variant hashes grams to 48-bit longs first (dedup's
  hashed-gram trick) and ships a bloom filter when even the hash set
  is too big to broadcast.  Nothing here shuffles the corpus.
- stratified sampling: one shuffle on the (low-cardinality) stratum
  key; the per-stratum ORDER BY multiplicative-hash is a top-k window
  (rank <= k), which Spark executes as a partial top-k per partition
  — no stratum ever needs to fit in one task's memory.
- sequence packing: one shuffle on the stratum key; the running-sum
  window is a single sort per stratum.  Bin ids come from integer
  division of the exclusive prefix sum, so packing is reproducible
  from (ordering key, budget) alone — no stateful packer process.
"""

from __future__ import annotations

from ..confscope import scoped_parser_mode
from ..scan import read_spread, read_store

from .text import TOKENS, render

# Knuth's multiplicative hash constant (2654435761 = floor(2^32/phi));
# doc_id * K mod 2^20 is an engine-portable deterministic
# pseudo-random stream for sampling decisions (pure BIGINT ops).
_MULT = 2654435761
_MOD = 1 << 20


def hash_mod_expr(col: str) -> str:
    """Engine-portable deterministic sampling stream
    ``(col * K) mod 2^20`` rendered overflow-free: the operand is
    reduced mod 2^20 BEFORE the multiply — algebraically identical
    (2^20 divides ``(x - x mod 2^20) * K``) but the product is
    bounded by 2^20 * K < 2^52, while the naive ``x * K`` raises
    ARITHMETIC_OVERFLOW under Spark's ANSI default (or silently
    wraps, diverging from DuckDB's HUGEINT promotion) for
    x > ~3.4e9 — squarely inside the 100 TB doc_id range
    (ADVICE r13)."""
    return f"((({col}) % {_MOD}) * {_MULT}) % {_MOD}"


def decontaminate_sql(engine: str, gram_n: int = 4,
                      eval_mod: int = 97) -> str:
    """Benchmark decontamination: flag training documents that share
    any word ``gram_n``-gram with the eval set (docs with
    doc_id % eval_mod == 0 stand in for the benchmark suite; a real
    deployment unions the actual eval corpora under reserved ids).

    Output: one row per CONTAMINATED train doc with the count of
    distinct shared grams — the actionable removal list, in the
    standard n-gram-overlap formulation.  Production corpora use
    gram_n of 8-13; the default here is 4 because the synthetic
    fixtures' near-duplicates perturb tokens densely enough that
    8-gram overlap is empty (a trivially-passing gate), while 4-grams
    flag a real non-empty set at every sf.  Docs shorter than gram_n
    tokens cannot form a gram and are never flagged.
    """
    # gram via sliding window over the token array: index i covers
    # tokens i..i+gram_n-1 (1-based array indexing in both engines;
    # Spark's element_at/bracket is 1-based like DuckDB list indexing)
    joined = ", ".join(f"tk[i{f'+{o}' if o else ''}]"
                       for o in range(gram_n))
    g = ("{adist}({ltrans}({seq}(1, {alen}(tk) - %d), "
         "i -> concat_ws(' ', %s)))" % (gram_n - 1, joined))
    # Spark lambda indexing is 0-based via tk[i] on ARRAY — align by
    # shifting the sequence, not the element refs
    if engine == "spark":
        g = ("{adist}({ltrans}({seq}(0, {alen}(tk) - %d), "
             "i -> concat_ws(' ', %s)))" % (gram_n, joined))
    g = render(g, engine)
    t = f"""
    WITH tk AS (
        SELECT doc_id, {render(TOKENS, engine)} AS tk FROM documents
    ), grams AS (
        SELECT doc_id, {{explode}}(g) AS gram
        FROM (SELECT doc_id, {g} AS g FROM tk
              WHERE {{alen}}(tk) >= {gram_n}) _g
    ), eval_grams AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % {eval_mod} = 0
    )
    SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
    FROM grams g JOIN eval_grams e ON e.gram = g.gram
    WHERE g.doc_id % {eval_mod} <> 0
    GROUP BY g.doc_id
    """
    return render(t, engine)


def _decon_grams_plan(spark, gram_n: int = 4):
    """The decontamination gram relation as an UNEXECUTED plan.
    Caller contract: the ``documents`` temp view is registered and the
    session parser mode is already scoped — all session-global work
    (spark.sql parse time included) happens on the caller's thread, so
    the returned plan's only remaining step is its localCheckpoint
    action, which IS thread-safe to submit to a pool (r17, ADVICE r16:
    the previous shape ran conf set/restore + view replacement inside
    a worker thread, racing the main thread's session state)."""
    from .text import render as _render
    toks = _render(TOKENS, "spark")
    leads = ", ".join(f"lead(tok, {j}) OVER w" for j in range(1, gram_n))
    return spark.sql(f"""
    WITH toks AS (
        SELECT doc_id, posexplode({toks}) AS (pos, tok) FROM documents
    ), g AS (
        SELECT doc_id,
               concat_ws(' ', tok, {leads}) AS gram,
               lead(tok, {gram_n - 1}) OVER w AS tlast
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT DISTINCT doc_id, gram FROM g WHERE tlast IS NOT NULL
    """)


def _decon_contam(grams, eval_mod: int = 97):
    """The train-vs-eval shared-gram aggregation over a CHECKPOINTED
    gram relation, as DataFrame ops (no temp view, no parser-mode
    dependency — safe to build from any thread, though callers build
    it on the main thread after the checkpoint completes).  Values
    identical to the previous spark.sql form: same eval-gram DISTINCT,
    same equi-join, same COUNT(DISTINCT gram) per train doc."""
    from pyspark.sql import functions as F
    eval_grams = (grams.where(f"doc_id % {eval_mod} = 0")
                  .select("gram").distinct())
    return (grams.where(f"doc_id % {eval_mod} <> 0")
            .join(eval_grams, "gram")
            .groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n_shared_grams")))


def decontaminate_fn(spark, sf_dir: str, gram_n: int = 4,
                     eval_mod: int = 97):
    """Spark execution strategy for decontamination: identical output
    to decontaminate_sql (the oracle keeps the array template), but
    grams form via posexplode + window LEADs (tokens stream through
    one (doc_id, pos) sort, no per-row array building — the
    boilerplate_grams trick) and the gram relation is checkpointed
    ONCE before being read from both sides of the train-vs-eval join
    (the CTE form re-evaluates the whole tokenize+gram pipeline per
    reference).  Measured 20.5s -> ~1s at sf0.1."""
    with scoped_parser_mode(spark, "true"):
        read_spread(spark, f"{sf_dir}/documents.parquet") \
            .createOrReplaceTempView("documents")
        grams = _decon_grams_plan(spark, gram_n).localCheckpoint()
    return _decon_contam(grams, eval_mod)


def doc_repetition_sql(engine: str, gram_n: int = 2) -> str:
    """Intra-document repetition: the fraction of duplicate word
    ``gram_n``-grams inside each document — the canonical
    repetitious-text quality rule (templated spam, keyword stuffing,
    decoding loops score high).  Pure projection, no shuffle; the
    fraction is (total - distinct) / total over exact integer counts,
    so both engines agree bit-for-bit.  Docs shorter than gram_n
    tokens have one degenerate gram and score 0."""
    joined = ", ".join(f"tk[i{f'+{o}' if o else ''}]"
                       for o in range(gram_n))
    if engine == "spark":
        g = ("{ltrans}({seq}(0, greatest({alen}(tk) - %d, 0)), "
             "i -> concat_ws(' ', %s))" % (gram_n, joined))
    else:
        g = ("{ltrans}({seq}(1, greatest({alen}(tk) - %d, 1)), "
             "i -> concat_ws(' ', %s))" % (gram_n - 1, joined))
    g = render(g, engine)
    t = f"""
    WITH g AS (
        SELECT doc_id, {g} AS grams
        FROM (SELECT doc_id, {render(TOKENS, engine)} AS tk
              FROM documents) _t
    )
    SELECT doc_id,
           CAST({{alen}}(grams) AS BIGINT) AS n_grams,
           CAST({{alen}}({{adist}}(grams)) AS BIGINT) AS n_distinct,
           CAST({{alen}}(grams) - {{alen}}({{adist}}(grams)) AS DOUBLE)
               / {{alen}}(grams) AS dup_frac
    FROM g
    """
    return render(t, engine)


def stratified_sample_sql(engine: str, k: int = 20) -> str:
    """Deterministic stratified quota sample: exactly min(k, |stratum|)
    documents per language, chosen by a multiplicative-hash order on
    doc_id — reproducible across engines and runs with no RNG state,
    the property a pipeline needs so re-runs and audits select the
    same sample.  rank is emitted so downstream quota changes
    (k' < k) subset consistently."""
    t = f"""
    WITH h AS (
        SELECT doc_id, lang,
               {hash_mod_expr('doc_id')} AS hv
        FROM documents
    ), r AS (
        SELECT doc_id, lang, hv,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY hv, doc_id) AS rk
        FROM h
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {k}
    """
    return render(t, engine)


def mixture_sample_sql(engine: str) -> str:
    """Temperature-scaled source mixing (the LLaMA/PaLM-style data
    recipe): per-source admit probability q_s = sqrt(n_min)/sqrt(n_s)
    — alpha = 1/2 rebalancing where the smallest source keeps 100%
    and every larger source downsamples toward balance.  Selection
    is the deterministic multiplicative-hash threshold
    (doc_id * K) % 2^20 < floor(2^20 * q_s): stateless per-row, so
    re-runs, audits, and both engines select the identical sample
    with no RNG state.

    Engine exactness: alpha is FIXED at 1/2 because IEEE sqrt (and
    *, /) are correctly-rounded in both engines while pow() is not —
    an arbitrary-alpha pow(n, a) could differ in the last ulp and
    flip a floor() boundary (the r9 red-row lesson).  The fixture
    derives a skewed 8:4:2:1:1 source axis from doc_id (the
    documents table's own source column is uniform — temperature
    mixing over uniform sources is a no-op).

    100 TB shape: ONE low-cardinality count (map-side partials over
    a handful of sources), thresholds broadcast back, then a
    stateless per-row predicate — no sort, no window, no shuffle of
    the corpus; the op costs one scan."""
    t = f"""
    WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 16 < 8 THEN 'web'
                    WHEN doc_id % 16 < 12 THEN 'books'
                    WHEN doc_id % 16 < 14 THEN 'news'
                    WHEN doc_id % 16 = 14 THEN 'wiki'
                    ELSE 'code' END AS mix_source
        FROM documents
    ), counts AS (
        SELECT mix_source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM src GROUP BY mix_source
    ), thr AS (
        SELECT mix_source, n_docs,
               CAST(floor(({_MOD} * sqrt(CAST(
                        (SELECT MIN(n_docs) FROM counts) AS DOUBLE)))
                    / sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)
                   AS cutoff
        FROM counts
    )
    SELECT s.mix_source, s.doc_id, t.n_docs, t.cutoff
    FROM src s JOIN thr t ON s.mix_source = t.mix_source
    WHERE {hash_mod_expr('s.doc_id')} < t.cutoff
    """
    return render(t, engine)


def _sample_pack_ctes(final_src: str, idiv: str, k: int,
                      budget: int) -> str:
    """Shared sample+pack CTE text over a curated-survivor relation
    (doc_id, lang, n_tokens): deterministic per-language quota sample
    (multiplicative-hash order, stratified_sample_sql's scheme) then
    exclusive-prefix-sum token packing (pack_sequences_sql's scheme).
    Pure integer ops — bit-identical across engines."""
    return f"""sampled AS (
        SELECT doc_id, lang, n_tokens FROM (
            SELECT doc_id, lang, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY {hash_mod_expr('doc_id')}, doc_id)
                       AS rk
            FROM {final_src}) _r
        WHERE rk <= {k}
    ), cum AS (
        SELECT lang, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM sampled
    ), packed AS (
        SELECT lang, cum_before {idiv} {budget} AS bin_id,
               COUNT(*) AS n, SUM(n_tokens) AS tok
        FROM cum GROUP BY lang, cum_before {idiv} {budget}
    )"""


def curation_pipeline_materialized_fn(spark, sf_dir: str, k: int = 20,
                                      budget: int = 2048,
                                      eval_mod: int = 97):
    """The curation chain as a real pipeline would run it (VERDICT r6
    ask 7, mirroring dedup_pipeline_materialized): quality scoring →
    exact-dedup keep → benchmark decontamination → stratified quota
    sample → token-budget packing, with each expensive stage
    materialized ONCE (localCheckpoint) and every downstream stage
    reading the materialized result — versus the per-query harness
    shape where corpus_curation / decontaminate / stratified_sample /
    pack_sequences each re-derive their inputs from the raw corpus.
    Emits one summary row of stage cardinalities so the entry is
    oracle-checkable; its bench time is the cost of ONE chain
    execution (≈ the chain's max stage, not the sum of the separate
    entries).

    Selection rule matches corpus_curation exactly: a doc survives if
    it is its exact-content group's keeper AND n_tokens >= 20 AND
    quality_score >= 0.5; decontamination then drops survivors sharing
    any 4-gram with the eval slice (doc_id % {eval_mod} == 0).

    100 TB shape: quality/keeps are one projection + one hash-group
    window; the contamination check is a broadcast gram join; sample
    and pack shuffle once on the low-cardinality lang key.  Nothing
    rescans text downstream of the materialized stage outputs."""
    from pyspark.sql import functions as F

    from .dedup import dedup_keep_first_sql
    from .text import text_quality_sql

    with scoped_parser_mode(spark, "true"):
        read_spread(spark, f"{sf_dir}/documents.parquet") \
            .createOrReplaceTempView("documents")

        # materialize ONLY the relations consumed more than once
        # (survivors: final + the n_selected aggregate; final: sample/pack
        # + the n_final aggregate).  quality / keeps / contaminated are
        # each read exactly once, so they stay lazy and Catalyst pipelines
        # them into their single consumer — a checkpoint there would be a
        # pure serialization barrier (measured 3.7 -> 2.1 s at sf0.1).
        spark.sql(text_quality_sql("spark")) \
            .createOrReplaceTempView("__cur_quality")
        spark.sql(dedup_keep_first_sql("spark")) \
            .createOrReplaceTempView("__cur_keeps")
        survivors_plan = spark.sql("""
            SELECT q.doc_id, q.lang, q.n_tokens
            FROM __cur_quality q JOIN __cur_keeps k ON q.doc_id = k.doc_id
            WHERE k.keep AND q.n_tokens >= 20 AND q.quality_score >= 0.5
        """)
        # The survivors checkpoint and the decontamination gram
        # checkpoint are INDEPENDENT jobs (both derive only from the
        # documents relation), so they run concurrently from a
        # 2-thread pool (guide §2.6) instead of back to back — the
        # second job's tasks back-fill cores idled by the first's
        # tail.  BOTH plans are fully built on THIS thread before the
        # pool starts (r17, ADVICE r16: only the localCheckpoint
        # actions run in workers — no session-global state, parser
        # mode, or temp-view mutation ever happens off the main
        # thread; this matches the ann_index_store_write pattern).
        from concurrent.futures import ThreadPoolExecutor
        decon_grams_plan = _decon_grams_plan(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fs = pool.submit(survivors_plan.localCheckpoint)
            fg = pool.submit(decon_grams_plan.localCheckpoint)
            survivors = fs.result()
            contam = _decon_contam(fg.result(), eval_mod)
        survivors.createOrReplaceTempView("__cur_survivors")
        contam.createOrReplaceTempView("__cur_contam")
        final = spark.sql("""
            SELECT s.doc_id, s.lang, s.n_tokens FROM __cur_survivors s
            LEFT ANTI JOIN __cur_contam c ON c.doc_id = s.doc_id
        """).localCheckpoint()
        final.createOrReplaceTempView("__cur_final")
        sample_pack = spark.sql(f"""
            WITH {_sample_pack_ctes('__cur_final', 'div', k, budget)}
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sampled)
                       AS n_sampled,
                   CAST(COUNT(*) AS BIGINT) AS n_bins,
                   CAST(SUM(tok) AS BIGINT) AS packed_tokens
            FROM packed
        """)
        s = (spark.table("documents")
             .agg(F.count("*").cast("long").alias("n_docs"))
             .crossJoin(survivors.agg(
                 F.count("*").cast("long").alias("n_selected")))
             .crossJoin(final.agg(
                 F.count("*").cast("long").alias("n_final")))
             .crossJoin(sample_pack))
        return s


def curation_pipeline_materialized_oracle_sql(k: int = 20,
                                              budget: int = 2048,
                                              eval_mod: int = 97) -> str:
    """DuckDB oracle for curation_pipeline_materialized_fn: the same
    six summary numbers recomputed as one CTE chain from the shared
    dual-engine stage templates (correctness only — the Spark side's
    materialization is what the bench times)."""
    from .dedup import dedup_keep_first_sql
    from .text import text_quality_sql

    q = text_quality_sql("duckdb")
    kp = dedup_keep_first_sql("duckdb")
    dc = decontaminate_sql("duckdb", eval_mod=eval_mod)
    return f"""
    WITH quality AS ({q}),
    keeps AS ({kp}),
    survivors AS (
        SELECT q.doc_id, q.lang, q.n_tokens
        FROM quality q JOIN keeps k ON q.doc_id = k.doc_id
        WHERE k.keep AND q.n_tokens >= 20 AND q.quality_score >= 0.5
    ),
    contaminated AS ({dc}),
    final AS (
        SELECT s.doc_id, s.lang, s.n_tokens FROM survivors s
        LEFT JOIN contaminated c ON c.doc_id = s.doc_id
        WHERE c.doc_id IS NULL
    ),
    {_sample_pack_ctes('final', '//', k, budget)}
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM survivors) AS BIGINT)
               AS n_selected,
           CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_final,
           CAST((SELECT COUNT(*) FROM sampled) AS BIGINT) AS n_sampled,
           CAST((SELECT COUNT(*) FROM packed) AS BIGINT) AS n_bins,
           CAST((SELECT SUM(tok) FROM packed) AS BIGINT)
               AS packed_tokens
    """


def pack_sequences_sql(engine: str, budget: int = 2048) -> str:
    """Token-budget sequence packing: documents are laid out per
    language in doc_id order and cut into bins of ``budget`` tokens by
    integer division of the EXCLUSIVE prefix sum — the deterministic
    contiguous-packing scheme (each doc starts in the bin its running
    offset falls in; long docs may straddle into the next bin, which
    training-side truncation handles).  Output is the per-bin
    manifest: doc count, token total, and fill ratio vs the budget.
    """
    idiv = "div" if engine == "spark" else "//"
    ntok = render(f"CAST({{alen}}({TOKENS}) AS BIGINT)", engine)
    t = f"""
    WITH t AS (
        SELECT doc_id, lang, {ntok} AS n_tok FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM t
    )
    SELECT lang,
           CAST(cum_before {idiv} {budget} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tok) AS DOUBLE) / {budget} AS fill_ratio
    FROM c
    GROUP BY lang, cum_before {idiv} {budget}
    """
    return render(t, engine)


def source_stats_sql(engine: str) -> str:
    """Per-source corpus accounting — the curation dashboard a corpus
    owner reads before deciding source weights: document/token/char
    mass, language spread, and the exact-duplicate rate (share of a
    source's docs whose normalized content hash occurs more than once
    ANYWHERE in the corpus — cross-source duplication counts against
    both sources, which is the number that matters for mixing
    weights).

    Scale shape: one projection computes the content hash (8-byte
    shuffle key, never the text), one window over the hash counts
    occurrences (single hash shuffle), and the final aggregate groups
    on the low-cardinality source key with map-side partials — two
    linear shuffles total, no joins."""
    from .hashing import hash48
    from .text import norm_text
    fp = hash48(norm_text(engine), engine)
    toks = render(TOKENS, engine)
    t = f"""
    WITH base AS (
        SELECT source, lang,
               {fp} AS fp,
               CAST({{alen}}({toks}) AS BIGINT) AS n_toks,
               CAST(n_chars AS BIGINT) AS nc
        FROM documents
    ), occ AS (
        SELECT source, lang, n_toks, nc,
               COUNT(*) OVER (PARTITION BY fp) AS occ
        FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(nc) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_docs,
           round(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS dup_frac
    FROM occ GROUP BY source
    """
    return render(t, engine)


# ---------------------------------------------------------------------------
# persistent curation store (VERDICT r8 ask 2): corpus-side curation
# aggregates persisted parquet-side, new batches scored against them
# ---------------------------------------------------------------------------

# corpus/batch split convention shared with dedup's incremental flow
CUR_MOD = 10
CUR_RES = 8             # doc_id % 10 >= 8 stands in for the new batch
CUR_EVAL_MOD = 97       # corpus docs with doc_id % 97 == 0 = eval set
BOILER_MIN_DOCS = 3     # corpus DF >= 3 => boilerplate gram


def _gram_expr(engine: str, n: int, clamp: bool = False) -> str:
    """Distinct word ``n``-gram array over a token array column
    ``tk`` — decontaminate_sql's sliding-window idiom generalized.
    ``clamp=True`` uses boilerplate_grams_sql's short-doc semantics
    (docs shorter than ``n`` tokens form one degenerate gram);
    without it such docs form none (callers filter
    ``{alen}(tk) >= n``, decontaminate's semantics)."""
    joined = ", ".join(f"tk[i{f'+{o}' if o else ''}]"
                       for o in range(n))
    if engine == "spark":
        lo, hi = "0", f"{{alen}}(tk) - {n}"
    else:
        lo, hi = "1", f"{{alen}}(tk) - {n - 1}"
    if clamp:
        hi = f"greatest({hi}, {lo})"
    return render(f"{{adist}}({{ltrans}}({{seq}}({lo}, {hi}), "
                  f"i -> concat_ws(' ', {joined})))", engine)


def _store_build_ctes(engine: str, corpus_src: str,
                      eval_mod: int = CUR_EVAL_MOD) -> dict[str, str]:
    """The four corpus-side aggregate statements (eval grams, boiler
    grams, vocab, totals) over a corpus relation — shared verbatim by
    the Spark store build and the DuckDB oracle's inline CTEs, so the
    persisted store holds exactly what the oracle recomputes."""
    toks = render(TOKENS, engine)
    g4 = _gram_expr(engine, 4)
    g5 = _gram_expr(engine, 5, clamp=True)
    ctk = (f"SELECT doc_id, {toks} AS tk FROM {corpus_src}")
    return {
        "eval_grams": render(f"""
            SELECT DISTINCT gram FROM (
                SELECT {{explode}}(g) AS gram
                FROM (SELECT {g4} AS g FROM ({ctk}) _c
                      WHERE doc_id % {eval_mod} = 0
                        AND {{alen}}(tk) >= 4) _g) _e""", engine),
        "boiler_grams": render(f"""
            SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
                SELECT DISTINCT doc_id, gram FROM (
                    SELECT doc_id, {{explode}}(g) AS gram
                    FROM (SELECT doc_id, {g5} AS g
                          FROM ({ctk}) _c) _g) _x) _d
            GROUP BY gram HAVING COUNT(*) >= {BOILER_MIN_DOCS}""",
            engine),
        "vocab": render(f"""
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
                SELECT {{explode}}(tk) AS tok FROM ({ctk}) _c) _t
            GROUP BY tok""", engine),
        "totals": "SELECT CAST(SUM(n) AS BIGINT) AS t FROM {vocab}",
    }


def _against_store_tail(engine: str, batch_src: str, eval_src: str,
                        boiler_src: str, vocab_src: str,
                        tot_src: str, btk_src: str | None = None) -> str:
    """Batch-scoring statement over a batch relation plus the four
    store relations: per-doc quality (stateless), eval-gram
    contamination, boilerplate-gram fraction, and corpus-model rarity
    (surprisal_sql's integer bucket ladder; tokens absent from the
    stored vocab are OOV -> bucket 31).  Shared text between the
    Spark probe (store views over parquet) and the DuckDB oracle
    (store CTEs inline over the corpus split), so values are
    bit-identical by construction.

    ``btk_src`` (Spark side): an optional PRE-TOKENIZED batch
    relation (doc_id, tk) replacing the inline btk definition.  This
    is load-bearing for performance, not cosmetics: with the inline
    definition, Catalyst's CollapseProject + inferred join filters
    inline the FULL ``split(trim(lower(text)))`` tokenization into
    every ``tk[i+o]`` access of the gram lambda — re-tokenizing the
    document once per gram index, O(len^2) per doc (measured 14.2 s
    for the eval join on a 1000-doc sf0.1 batch vs 0.6 s
    materialized).  DuckDB materializes CTEs, so the oracle keeps the
    inline form; values are identical either way."""
    from .text import text_quality_sql
    toks = render(TOKENS, engine)
    g4 = _gram_expr(engine, 4)
    g5 = _gram_expr(engine, 5, clamp=True)
    quality = text_quality_sql(engine).replace(
        "FROM documents", f"FROM {batch_src}")
    ladder = " ".join(f"WHEN v.n * {1 << k} >= tt.t THEN {k}"
                      for k in range(31))
    btk_def = (f"SELECT doc_id, tk FROM {btk_src}" if btk_src
               else f"SELECT doc_id, {toks} AS tk FROM {batch_src}")
    t = f"""
    q AS (SELECT doc_id, n_tokens, quality_score FROM ({quality}) _q),
    btk AS ({btk_def}),
    bg4 AS (
        SELECT doc_id, {{explode}}(g) AS gram
        FROM (SELECT doc_id, {g4} AS g FROM btk
              WHERE {{alen}}(tk) >= 4) _g
    ), ev AS (
        SELECT g.doc_id, COUNT(*) AS n_eval
        FROM bg4 g JOIN {eval_src} e ON e.gram = g.gram
        GROUP BY g.doc_id
    ), bg5 AS (
        SELECT doc_id, {{explode}}(g) AS gram
        FROM (SELECT doc_id, {g5} AS g FROM btk) _g
    ), bo AS (
        SELECT g.doc_id, COUNT(*) AS n_g5,
               SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_boiler
        FROM bg5 g LEFT JOIN {boiler_src} b ON b.gram = g.gram
        GROUP BY g.doc_id
    ), btok AS (
        SELECT doc_id, {{explode}}(tk) AS tok FROM btk
    ), rar AS (
        SELECT t.doc_id, COUNT(*) AS n_tok,
               SUM(CASE {ladder} ELSE 31 END) AS rarity_sum,
               SUM(CASE WHEN v.n IS NULL OR v.n <= 2
                   THEN 1 ELSE 0 END) AS n_rare
        FROM btok t
        LEFT JOIN {vocab_src} v ON v.tok = t.tok
        CROSS JOIN {tot_src} tt
        GROUP BY t.doc_id
    )
    SELECT q.doc_id,
           CAST(q.n_tokens AS BIGINT) AS n_tokens,
           q.quality_score,
           CAST(COALESCE(ev.n_eval, 0) AS BIGINT) AS n_eval_grams,
           CAST(CASE WHEN ev.n_eval IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS contaminated,
           CAST(bo.n_g5 AS BIGINT) AS n_grams5,
           CAST(COALESCE(bo.n_boiler, 0) AS BIGINT) AS n_boiler_grams,
           round(CAST(COALESCE(bo.n_boiler, 0) AS DOUBLE) / bo.n_g5,
                 6) AS boiler_frac,
           CAST(rar.rarity_sum AS BIGINT) AS rarity_sum,
           round(CAST(rar.rarity_sum AS DOUBLE) / rar.n_tok, 6)
               AS mean_rarity,
           round(CAST(rar.n_rare AS DOUBLE) / rar.n_tok, 6)
               AS oov_rate
    FROM q
    JOIN bo ON bo.doc_id = q.doc_id
    JOIN rar ON rar.doc_id = q.doc_id
    LEFT JOIN ev ON ev.doc_id = q.doc_id
    """
    return render(t, engine)


CURATION_RELATIONS = ("eval_grams", "boiler_grams", "vocab", "totals",
                      "doc_ids")


def curation_store_write(spark, docs_df, store_path: str,
                         eval_mod: int = CUR_EVAL_MOD) -> None:
    """Compute the corpus-side curation aggregates for ``docs_df``
    (documents schema) and publish them as the parquet CURATION
    STORE:

      {store}/eval_grams    distinct eval-set 4-grams (tiny)
      {store}/boiler_grams  corpus 5-grams with DF >= {BOILER_MIN_DOCS}
      {store}/vocab         corpus unigram counts
      {store}/totals        1 row: corpus token total
      {store}/doc_ids       the docs folded in so far (fold ledger)

    For a 100 TB corpus these are MB-to-low-GB relations computed in
    ONE pass each over the corpus text; every future batch is scored
    against them without re-reading (or re-tokenizing) a single
    corpus byte — the same amortization contract as dedup's signature
    store and the ANN index store."""
    from .storecache import publish_store, write_relations

    def build(tmp: str) -> None:
        with scoped_parser_mode(spark, "true"):
            docs_df.createOrReplaceTempView("__cur_store_in")
            ctes = _store_build_ctes("spark", "__cur_store_in",
                                     eval_mod=eval_mod)
            write_relations(tmp, {name: spark.sql(ctes[name]) for name in
                                  ("eval_grams", "boiler_grams", "vocab")})
            spark.read.parquet(f"{tmp}/vocab") \
                .createOrReplaceTempView("__cur_store_vocab")
            write_relations(tmp, {
                "totals": spark.sql(
                    ctes["totals"].format(vocab="__cur_store_vocab")),
                "doc_ids": docs_df.select("doc_id")})

    publish_store(store_path, build)


def curation_store_append(spark, store_path: str, docs_df) -> None:
    """Fold an ADMITTED batch into the persisted curation store —
    the append-only contract: eval grams and boilerplate DF and the
    vocab model must reflect batch docs once they join the corpus.
    Vocab counts and gram DFs are additive, so the merge is a
    groupBy-sum of old store + batch increments; boiler_grams keeps
    only rows at/above the DF floor, with sub-floor counts NOT
    retained (a gram must re-earn the floor within a merge window —
    the bounded-state tradeoff, documented).

    The fold rewrites all relations at once, so it is ONE
    storecache.rewrite_store build-and-swap under the exclusive lock:
    a crash mid-fold leaves the old store intact.  Docs already in
    the ``doc_ids`` ledger are skipped, so replaying a fold (the
    streaming gate's at-least-once window) changes nothing.

    Consequence bound (pinned by
    tests/test_pipeline.py::test_curation_store_3batch_chain_drift_bound):
    scoring a later batch against a store appended from batches 1-2
    vs a from-scratch store over 1+2, every output column is exactly
    equal EXCEPT the boiler pair, whose drift is one-sided
    (incremental retains a subset of ref's boiler grams, so
    n_boiler_grams_inc <= ref) and bounded at <= 0.10 absolute
    boiler_frac per document on the test corpus."""
    from .storecache import rewrite_store

    with scoped_parser_mode(spark, "true"):
        rewrite_store(spark, store_path, CURATION_RELATIONS,
                      lambda snap: _curation_fold(spark, snap, docs_df))


def _curation_fold(spark, snap: dict, docs_df) -> dict:
    """The fold law: old relations + the batch's NEW docs -> the
    replacement relations."""
    new_docs = docs_df.join(snap["doc_ids"], "doc_id",
                            "left_anti").localCheckpoint()
    new_docs.createOrReplaceTempView("__cur_app_in")
    toks = render(TOKENS, "spark")
    g5 = _gram_expr("spark", 5, clamp=True)
    g4 = _gram_expr("spark", 4)
    # batch increments
    spark.sql(f"""
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, explode(g) AS gram
                FROM (SELECT doc_id, {g5} AS g
                      FROM (SELECT doc_id, {toks} AS tk
                            FROM __cur_app_in) _c) _g) _x) _d
        GROUP BY gram""").createOrReplaceTempView("__cur_app_g5")
    snap["boiler_grams"].createOrReplaceTempView("__cur_app_boiler_old")
    boiler = spark.sql(f"""
        SELECT gram, CAST(SUM(n_docs) AS BIGINT) AS n_docs FROM (
            SELECT * FROM __cur_app_boiler_old
            UNION ALL SELECT * FROM __cur_app_g5) _u
        GROUP BY gram HAVING SUM(n_docs) >= {BOILER_MIN_DOCS}
    """)
    # vocab + totals merge
    spark.sql(f"""
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT explode(tk) AS tok
            FROM (SELECT {toks} AS tk FROM __cur_app_in) _c) _t
        GROUP BY tok""").localCheckpoint() \
        .createOrReplaceTempView("__cur_app_vinc")
    snap["vocab"].createOrReplaceTempView("__cur_app_vold")
    vocab = spark.sql("""
        SELECT tok, CAST(SUM(n) AS BIGINT) AS n FROM (
            SELECT * FROM __cur_app_vold
            UNION ALL SELECT * FROM __cur_app_vinc) _u
        GROUP BY tok""")
    totals = spark.sql("""SELECT CAST(SUM(n) AS BIGINT) AS t
                 FROM __cur_app_vold
                 UNION ALL
                 SELECT CAST(SUM(n) AS BIGINT) FROM __cur_app_vinc""") \
        .groupBy().sum("t").selectExpr("CAST(`sum(t)` AS BIGINT) AS t")
    # new eval grams (batch docs on the eval residue), DISTINCT-union
    # merged with the stored ones: a bare append deduplicated only
    # within the batch, so a gram seen in several appended batches
    # (or already stored) got duplicate rows and the ev join in
    # _against_store_tail multiplied matches, inflating n_eval_grams
    # (ADVICE r9)
    spark.sql(f"""
        SELECT DISTINCT gram FROM (
            SELECT explode(g) AS gram
            FROM (SELECT {g4} AS g
                  FROM (SELECT doc_id, {toks} AS tk FROM __cur_app_in)
                  _c WHERE doc_id % {CUR_EVAL_MOD} = 0
                     AND size(tk) >= 4) _g) _e
    """).createOrReplaceTempView("__cur_app_ev_new")
    snap["eval_grams"].createOrReplaceTempView("__cur_app_ev_old")
    eval_grams = spark.sql("""
        SELECT DISTINCT gram FROM (
            SELECT * FROM __cur_app_ev_old
            UNION ALL SELECT * FROM __cur_app_ev_new) _u
    """)
    return {"eval_grams": eval_grams, "boiler_grams": boiler,
            "vocab": vocab, "totals": totals,
            "doc_ids": snap["doc_ids"].unionByName(
                new_docs.select("doc_id"))}


def curation_store_compact(spark, store_path: str,
                           max_files_per_relation: int = 4) -> dict:
    """Compact the persisted curation store (VERDICT r10 ask 8).  The
    relations are rewritten whole on every fold, so unlike the
    signature store they don't accumulate epoch files — but each fold
    inherits the shuffle partitioning of the merge (32+ part files
    for KB-scale relations), and stores folded by the pre-r9 append
    path can hold duplicate eval_grams rows.  Compaction re-buckets
    every relation to ``max_files_per_relation`` files, re-asserts
    the boilerplate DF floor, and DISTINCTs eval_grams; the other
    relations are content-exact rewrites (their counts are additive
    state that nothing can legitimately dedupe).  Scoring any batch
    against the store before and after is EXACTLY equal
    column-for-column (pinned by tests).  Returns per-relation file
    counts."""
    from .storecache import rewrite_store

    def law(snap):
        out = dict(snap)
        out["eval_grams"] = snap["eval_grams"].distinct()
        out["boiler_grams"] = snap["boiler_grams"].where(
            f"n_docs >= {BOILER_MIN_DOCS}")
        return {name: df.coalesce(max_files_per_relation)
                for name, df in out.items()}

    return rewrite_store(spark, store_path, CURATION_RELATIONS, law)


def curate_against_store(spark, store_path: str, batch_df):
    """Score a NEW batch against the persisted curation store: per-doc
    quality (stateless projection), contamination vs the stored eval
    grams, boilerplate fraction vs the stored high-DF grams, and
    corpus-model rarity/OOV vs the stored vocab — the corpus text is
    never read.

    Scale shape: quality is a batch projection; eval and boiler joins
    are broadcast-sized (grams that matter are tiny relative to any
    corpus); the vocab join is a hash join on token — all
    batch-bound, nothing corpus-bound.  The batch is tokenized ONCE
    into a localCheckpointed (doc_id, tk) relation feeding the three
    gram/token consumers — see _against_store_tail's btk_src note for
    why the inline form re-tokenized per gram (23x slower measured)."""
    with scoped_parser_mode(spark, "true"):
        batch_df.createOrReplaceTempView("__curb_batch")
        # read_store (r16): listing-keyed relation memo — probes of
        # an unchanged store skip the four per-relation re-resolutions
        for name in ("eval_grams", "boiler_grams", "vocab", "totals"):
            read_store(spark, f"{store_path}/{name}") \
                .createOrReplaceTempView(f"__curs_{name}")
        toks = render(TOKENS, "spark")
        spark.sql(f"SELECT doc_id, {toks} AS tk FROM __curb_batch") \
            .localCheckpoint().createOrReplaceTempView("__curb_btk")
        return spark.sql("WITH " + _against_store_tail(
            "spark", "__curb_batch", "__curs_eval_grams",
            "__curs_boiler_grams", "__curs_vocab", "__curs_totals",
            btk_src="__curb_btk"))


def curation_against_store_sql(engine: str = "duckdb",
                               mod: int = CUR_MOD,
                               res: int = CUR_RES,
                               eval_mod: int = CUR_EVAL_MOD) -> str:
    """Single-statement oracle twin of the store flow: the corpus
    split's aggregates as inline CTEs (the exact statements
    curation_store_write persists) feeding the same scoring tail the
    Spark probe runs over the parquet store."""
    ctes = _store_build_ctes(engine, "corpus", eval_mod=eval_mod)
    tail = _against_store_tail(engine, "batch", "eval_grams",
                               "boiler_grams", "vocab", "tot")
    return f"""
    WITH corpus AS (
        SELECT * FROM documents WHERE doc_id % {mod} < {res}
    ), batch AS (
        SELECT * FROM documents WHERE doc_id % {mod} >= {res}
    ), eval_grams AS ({ctes['eval_grams']}),
    boiler_grams AS ({ctes['boiler_grams']}),
    vocab AS ({ctes['vocab']}),
    tot AS ({ctes['totals'].format(vocab='vocab')}),
    {tail}
    """


def curation_store_entry_fn(spark, sf_dir: str, mod: int = CUR_MOD,
                            res: int = CUR_RES):
    """Registry/bench entry: the curation store is built once per
    fixture identity into the per-user store cache and REUSED across
    runs (dedup_incremental_against_store's protocol), so the
    measured cost is the batch-sized scoring probe — never the
    corpus-side aggregate build."""
    from .storecache import fixture_store

    src = f"{sf_dir}/documents.parquet"
    store = fixture_store("curation", src, mod, res)
    docs = read_spread(spark, src)
    curation_store_write(spark, docs.where(f"doc_id % {mod} < {res}"),
                         store)
    return curate_against_store(
        spark, store, docs.where(f"doc_id % {mod} >= {res}"))


# ---------------------------------------------------------------------------
# corpus drift / stats-over-time (VERDICT r8 ask 10)
# ---------------------------------------------------------------------------

DRIFT_EPOCH_DOCS = 64    # ingest-order bucket width (doc_id div N)


def corpus_drift_sql(engine: str,
                     epoch_docs: int = DRIFT_EPOCH_DOCS) -> str:
    """Time-bucketed per-source corpus trends — the monitoring face
    of a long-running pipeline: for each (ingest epoch, source)
    cell, document/token mass, mean quality score, and the exact-
    duplicate rate (share of the cell's docs whose normalized content
    hash occurs more than once ANYWHERE in the corpus — the
    source_stats_sql convention, so rising inter-epoch duplication
    shows up in BOTH epochs involved).  doc_id order is ingest order
    in this corpus, so epoch = doc_id div {epoch_docs}; a deployment
    with a real ingest timestamp swaps the epoch expression for a
    date_trunc and nothing else changes.

    Scale shape: ONE projection computes the 8-byte content hash +
    quality metrics, ONE window over the hash counts global
    occurrences (single hash shuffle of keys, never text), and ONE
    grouped aggregation on the low-cardinality (epoch, source) key
    with map-side partials — the same two-linear-shuffle plan as
    source_stats, just with the time axis added.  A weekly 100 TB
    snapshot reuses the persisted signature store instead of
    rehashing (dedup.signature_store_write); the trend query itself
    is unchanged.

    Exactness (the r9 red-row lesson, VERDICT r9 ask 1): q is a
    6-dp-rounded per-row scalar, so it is carried as exact integer
    micro-units (q6 = round(q*1e6) -> BIGINT).  SUM(q6) is an exact
    integer sum — partition-order-independent — and the half-up
    6-dp mean is computed in pure integer arithmetic,
    (2*S + n) div (2*n), before ONE final IEEE division by 1e6.
    No round(DOUBLE) ever touches an aggregate, so Spark's
    BigDecimal-expansion rounding vs DuckDB's float rounding can
    never disagree.  dup_frac gets the same treatment."""
    from .hashing import hash48
    from .text import EN_STOP, norm_text
    idiv = "div" if engine == "spark" else "//"
    fp = hash48(norm_text(engine), engine)
    toks = render(TOKENS, engine)
    quality_score = (
        "least({alen}(tk) / 50.0, 1.0) * 0.5 "
        "+ least({alen}({lfilter}(tk, x -> x IN " + EN_STOP + ")) "
        "/ CAST({alen}(tk) AS DOUBLE) * 5.0, 1.0) * 0.3 "
        "+ (1.0 - least({alen}(regexp_extract_all(text, "
        "'[^A-Za-z0-9\\s]', 0)) / CAST(length(text) AS DOUBLE) "
        "* 10.0, 1.0)) * 0.2")
    t = f"""
    WITH base AS (
        SELECT CAST(doc_id {idiv} {epoch_docs} AS BIGINT) AS epoch,
               source,
               {fp} AS fp,
               CAST({{alen}}(tk) AS BIGINT) AS n_toks,
               round({quality_score}, 6) AS q
        FROM (SELECT doc_id, source, text, {toks} AS tk
              FROM documents) _b
    ), occ AS (
        SELECT epoch, source, n_toks,
               CAST(round(q * 1000000) AS BIGINT) AS q6,
               COUNT(*) OVER (PARTITION BY fp) AS occ
        FROM base
    )
    SELECT epoch, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST((2 * SUM(q6) + COUNT(*)) {idiv} (2 * COUNT(*))
                AS DOUBLE) / 1000000.0 AS mean_quality,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_docs,
           CAST((2000000 * SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END)
                 + COUNT(*)) {idiv} (2 * COUNT(*))
                AS DOUBLE) / 1000000.0 AS dup_frac
    FROM occ GROUP BY epoch, source
    """
    return render(t, engine)
