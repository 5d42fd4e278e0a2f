"""Compaction under CONCURRENT admission (VERDICT r11 ask 8).

The r10 round proved decisions invariant when compaction runs BETWEEN
admission epochs; these tests close the remaining claim — a
compaction swapping the store WHILE a streaming admission query is
live.  Two layers:

1. the mechanics: Spark resolves a parquet file list at DataFrame
   creation and tasks open files BY PATH, so POSIX handle semantics
   protect only already-open streams — a swap landing between a
   probe's listing and its reads kills the job with
   FAILED_READ_FILE.FILE_NOT_EXIST (empirically pinned here, not
   assumed).  ``_run_with_swap_retry`` absorbs exactly that failure
   by rebuilding the plan once (fresh listing -> post-compaction
   store, which is decision-equivalent by the compaction pins).
2. the e2e: a LIVE processingTime-triggered admission stream with
   files arriving while a compaction thread swaps both stores under
   it, verdicts compared row-for-row against an untouched control
   fork.
"""

import glob
import hashlib
import os
import shutil
import threading
import time

import pytest

DOCS_COLS = "doc_id long, source string, lang string, text string"


def _uniq_texts(tag: str, n: int, words: int = 30) -> list:
    return [" ".join(hashlib.md5(f"{tag}-{i}-{j}".encode())
                     .hexdigest()[:12] for j in range(words))
            for i in range(n)]


def _write_stream_file(spark, stream_dir: str, name: str, rows) -> None:
    tmp = f"{stream_dir}/{name}_tmp"
    spark.createDataFrame(rows, DOCS_COLS).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, f"{stream_dir}/{name}.parquet")
    shutil.rmtree(tmp)


def test_swap_mid_plan_raises_and_retry_recovers(spark, tmp_path):
    """Pin the hazard AND the recovery: a DataFrame whose file list
    predates a replace_store swap fails with a missing-input error
    (the POSIX-handles argument does NOT cover path re-opens); the
    swap-retry helper classifies it and a rebuilt plan sees the new
    store."""
    from harbourbridge_spark.pipeline.storecache import replace_store
    from harbourbridge_spark.streaming.corpus import (
        _is_missing_input_error, _run_with_swap_retry)

    path = str(tmp_path / "store")
    spark.range(100).write.parquet(path)
    stale = spark.read.parquet(path)      # file list resolved HERE
    assert stale.count() == 100
    replace_store(path, lambda tmp: spark.range(50).write.parquet(tmp))

    with pytest.raises(Exception) as exc:
        stale.count()                     # stale listing -> dead paths
    assert _is_missing_input_error(exc.value)

    calls = {"n": 0}

    def attempt():
        calls["n"] += 1
        if calls["n"] == 1:
            return stale.count()          # first try: the doomed plan
        return spark.read.parquet(path).count()   # rebuilt: re-lists

    assert _run_with_swap_retry(attempt) == 50
    assert calls["n"] == 2

    # non-missing-input errors must NOT be retried
    def boom():
        calls["n"] += 1
        raise RuntimeError("unrelated failure")

    calls["n"] = 0
    with pytest.raises(RuntimeError):
        _run_with_swap_retry(boom)
    assert calls["n"] == 1


def test_compaction_during_live_admission_stream(spark, tmp_path):
    """The e2e ask: a streaming admission query is LIVE (processing-
    time trigger, epochs still arriving) while a thread compacts the
    signature store, the curation store, and the verdict output
    underneath it — per-doc admission verdicts must equal an
    untouched control fork's, row for row.

    Epoch contents are ORDER-INSENSITIVE by construction (e2/e3 hold
    copies of distinct epoch-1 docs plus fresh disjoint-vocab
    uniques; nothing in e2 depends on e3 or vice versa), because the
    file-source batch order across live triggers is not guaranteed.
    The store is seeded with a crash-replay double-append so the
    compaction has real duplicate rows to remove."""
    from harbourbridge_spark.pipeline.curation import (
        curation_store_compact, curation_store_write)
    from harbourbridge_spark.pipeline.dedup import (
        signature_store_append, signature_store_compact,
        signature_store_write)
    from harbourbridge_spark.streaming.corpus import (
        document_stream, streaming_corpus_admission)

    base = 70_000_000
    corpus = spark.createDataFrame(
        [(i, "s", "en", t)
         for i, t in enumerate(_uniq_texts("live-corp", 10))],
        DOCS_COLS)
    uniq1 = _uniq_texts("live-e1", 6)
    e1 = [(base + i, "synthetic", "en", t) for i, t in enumerate(uniq1)]
    # e2: copies of e1 docs 0-2 + 3 fresh; e3: copies of e1 docs 3-5
    # + 3 fresh — disjoint cross-epoch dependencies, any batch order
    # yields the same per-doc verdict
    e2 = [(base + 100 + i, "synthetic", "en", uniq1[i])
          for i in range(3)]
    e2 += [(base + 200 + i, "synthetic", "en", t)
           for i, t in enumerate(_uniq_texts("live-e2", 3))]
    e3 = [(base + 300 + i, "synthetic", "en", uniq1[3 + i])
          for i in range(3)]
    e3 += [(base + 400 + i, "synthetic", "en", t)
           for i, t in enumerate(_uniq_texts("live-e3", 3))]

    def seed(fork: str):
        sig = str(tmp_path / f"sig_{fork}")
        cur = str(tmp_path / f"cur_{fork}")
        sdir = str(tmp_path / f"in_{fork}")
        out = str(tmp_path / f"out_{fork}")
        ckpt = str(tmp_path / f"ckpt_{fork}")
        signature_store_write(spark, corpus, sig)
        # crash-replay shape: half the corpus signatures land twice,
        # so the live compact genuinely removes rows
        signature_store_append(spark, sig, corpus.where("doc_id < 5"))
        curation_store_write(spark, corpus, cur)
        os.makedirs(sdir)
        return sig, cur, sdir, out, ckpt

    def epochs_done(out: str, n: int) -> bool:
        eps = [e for e in (os.listdir(out) if os.path.isdir(out)
                           else []) if e.startswith("epoch=")]
        if len(eps) < n:
            return False
        return all(glob.glob(f"{out}/{e}/_SUCCESS") for e in eps)

    # ---- fork A: LIVE stream, compaction racing the later epochs
    sig_a, cur_a, sdir_a, out_a, ckpt_a = seed("a")
    _write_stream_file(spark, sdir_a, "e1", e1)
    q = streaming_corpus_admission(
        document_stream(spark, sdir_a), sig_a, cur_a, out_a, ckpt_a,
        processing_time="500 milliseconds")
    try:
        t0 = time.time()
        while not epochs_done(out_a, 1):
            assert q.exception() is None, q.exception()
            assert time.time() - t0 < 120, "epoch 1 never landed"
            time.sleep(0.3)

        stats = {}

        def compact_all():
            # the stores the probes READ compact live; the verdict
            # OUTPUT has its own live-compaction e2e below
            # (test_output_compaction_under_live_sink)
            stats["sig"] = signature_store_compact(spark, sig_a)
            stats["cur"] = curation_store_compact(spark, cur_a)

        th = threading.Thread(target=compact_all)
        th.start()                      # NO coordination with batches
        _write_stream_file(spark, sdir_a, "e2", e2)
        time.sleep(0.2)
        _write_stream_file(spark, sdir_a, "e3", e3)
        th.join(timeout=180)
        assert not th.is_alive()
        t0 = time.time()
        while not epochs_done(out_a, 3):
            assert q.exception() is None, q.exception()
            assert time.time() - t0 < 120, "epochs 2/3 never landed"
            time.sleep(0.3)
    finally:
        q.stop()
    # the compact did real work on live state
    assert stats["sig"]["rows_after"] < stats["sig"]["rows_before"]

    # ---- fork B: control, identical inputs, no compaction
    sig_b, cur_b, sdir_b, out_b, ckpt_b = seed("b")
    for name, rows in (("e1", e1), ("e2", e2), ("e3", e3)):
        time.sleep(1.1)                 # mtime-ordered micro-batches
        _write_stream_file(spark, sdir_b, name, rows)
        qb = streaming_corpus_admission(
            document_stream(spark, sdir_b), sig_b, cur_b, out_b,
            ckpt_b)
        qb.awaitTermination(180)

    def verdicts(out: str) -> dict:
        return {r.doc_id: (r.admitted, r.reason, r.dup_of,
                           r.quality_score, r.contaminated,
                           r.boiler_frac)
                for r in spark.read.parquet(out).drop("epoch")
                .collect()}

    va, vb = verdicts(out_a), verdicts(out_b)
    assert va == vb
    assert len(va) == len(e1) + len(e2) + len(e3)
    # non-trivial: every e1-copy rejected as near_dup of its e1 doc,
    # every fresh doc admitted
    for i in range(3):
        assert va[base + 100 + i][:3] == \
            (False, "near_dup", base + i)
        assert va[base + 300 + i][:3] == \
            (False, "near_dup", base + 3 + i)
    for d in (200, 201, 202, 400, 401, 402):
        assert va[base + d][0] is True


def test_output_compaction_under_live_sink(spark, tmp_path):
    """VERDICT r12 ask 4: r12 pinned 'do not compact the verdict
    OUTPUT under a live sink' by docstring only.  r13 replaces the
    quiesce rule with the same lost-update protection the signature
    store got: compact_admission_output holds the output root's
    EXCLUSIVE lock across snapshot+swap and both streaming sinks take
    it SHARED around their per-epoch writes — an epoch write can
    never land inside the snapshot->swap window and be destroyed.

    The race shape that killed fork A in the r12 store e2e, aimed at
    the OUTPUT: a live processingTime stream, epoch 1 landed, then an
    output compaction races epochs 2/3.  Every epoch must survive."""
    from harbourbridge_spark.pipeline.curation import (
        curation_store_write)
    from harbourbridge_spark.pipeline.dedup import (
        signature_store_write)
    from harbourbridge_spark.streaming.corpus import (
        compact_admission_output, document_stream,
        streaming_corpus_admission)

    base = 80_000_000
    corpus = spark.createDataFrame(
        [(i, "s", "en", t)
         for i, t in enumerate(_uniq_texts("osink-corp", 8))],
        DOCS_COLS)
    e1 = [(base + i, "synthetic", "en", t)
          for i, t in enumerate(_uniq_texts("osink-e1", 5))]
    e2 = [(base + 100 + i, "synthetic", "en", t)
          for i, t in enumerate(_uniq_texts("osink-e2", 4))]
    e3 = [(base + 200 + i, "synthetic", "en", t)
          for i, t in enumerate(_uniq_texts("osink-e3", 4))]

    sig = str(tmp_path / "sig")
    cur = str(tmp_path / "cur")
    sdir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    signature_store_write(spark, corpus, sig)
    curation_store_write(spark, corpus, cur)
    os.makedirs(sdir)

    def epochs_done(n: int) -> bool:
        eps = [e for e in (os.listdir(out) if os.path.isdir(out)
                           else []) if e.startswith("epoch=")]
        return len(eps) >= n and all(
            glob.glob(f"{out}/{e}/_SUCCESS") for e in eps)

    _write_stream_file(spark, sdir, "e1", e1)
    q = streaming_corpus_admission(
        document_stream(spark, sdir), sig, cur, out, ckpt,
        processing_time="500 milliseconds")
    stats = {}
    try:
        t0 = time.time()
        while not epochs_done(1):
            assert q.exception() is None, q.exception()
            assert time.time() - t0 < 120, "epoch 1 never landed"
            time.sleep(0.3)

        def compact_output():
            stats["out"] = compact_admission_output(spark, out)

        th = threading.Thread(target=compact_output)
        th.start()                      # NO coordination with batches
        _write_stream_file(spark, sdir, "e2", e2)
        time.sleep(0.2)
        _write_stream_file(spark, sdir, "e3", e3)
        th.join(timeout=180)
        assert not th.is_alive()
        assert "out" in stats, "output compaction died"

        # completion probe: the compaction's partitionBy rewrite
        # legitimately drops epoch=1's per-dir _SUCCESS marker, so
        # poll CONTENT (the read may race an epoch overwrite — retry)
        want = ({r[0] for r in e1} | {r[0] for r in e2}
                | {r[0] for r in e3})
        t0 = time.time()
        while True:
            assert q.exception() is None, q.exception()
            assert time.time() - t0 < 120, "epochs 2/3 never landed"
            try:
                got = {r.doc_id
                       for r in spark.read.parquet(out).collect()}
            except Exception:           # mid-swap/mid-write listing
                got = set()
            if got == want:
                break
            time.sleep(0.3)
    finally:
        q.stop()

    # every epoch's rows survived the racing snapshot->swap: nothing
    # the sink landed during the compaction window was destroyed
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    want = {r[0] for r in e1} | {r[0] for r in e2} | {r[0] for r in e3}
    assert got == want
    # the compaction did real work on the live output (it ran against
    # at least epoch 1; epochs landing later are untouched by it)
    assert stats["out"]["rows"] >= len(e1)
    assert stats["out"]["files_after"] <= stats["out"]["files_before"]
