"""Compaction / eviction of the persisted admission stores (VERDICT
r10 ask 8).

The append-only signature store grows one parquet-file batch per
admitted epoch and the at-least-once crash-replay contract can append
the same batch twice; at 100 TB the store itself becomes a corpus.
These tests pin the three properties that make compaction safe to run
on a live pipeline:

1. admission DECISIONS are invariant across a compact — proven
   end-to-end with a twin-fork protocol (two identical streaming
   pipelines, one compacted between epochs, verdicts compared);
2. compaction repairs the replay-inflated n_corpus_matches diagnostic
   back to the exact from-scratch value while shrinking rows/files;
3. eviction (the deliberate decision-CHANGING operation) unflags
   exactly the evicted doc's duplicates and nothing else.
"""

import glob
import hashlib
import os
import shutil
import time

DOCS_COLS = "doc_id long, source string, lang string, text string"


def _uniq_texts(tag: str, n: int, words: int = 30) -> list:
    """Synthetic unique texts with disjoint vocab per doc: doc i can
    only ever near-dup its own copies, never the templated fixtures."""
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


def test_signature_compact_decision_invariant_repairs_counts(
        spark, tmp_path):
    """Replay-duplicated store rows never change any verdict column
    (the probe's candidate UNION is a set union, so even the
    n_corpus_matches diagnostic is replay-proof); compaction's job is
    purely physical — shrink rows and files back to the from-scratch
    store — with the probe output bit-identical before compaction,
    after compaction, and against a from-scratch store."""
    from harbourbridge_spark.pipeline.dedup import (
        dedup_incremental_against_store, signature_store_append,
        signature_store_compact, signature_store_write)

    base = 40_000_000
    corpus = spark.createDataFrame(
        [(i, "s", "en", t)
         for i, t in enumerate(_uniq_texts("cmp-corp", 12))],
        DOCS_COLS)
    sig = str(tmp_path / "sig")
    signature_store_write(spark, corpus, sig)

    uniq = _uniq_texts("cmp-b1", 8)
    b1 = spark.createDataFrame(
        [(base + i, "s", "en", t) for i, t in enumerate(uniq)],
        DOCS_COLS)
    # crash-replay shape: the admitted epoch's RAW signature append
    # (what streaming_corpus_admission runs after the verdict sink)
    # lands twice — admit=True itself re-probes and would skip, but a
    # crash between the append and the checkpoint commit replays the
    # bare append
    signature_store_append(spark, sig, b1)
    signature_store_append(spark, sig, b1)

    b2 = spark.createDataFrame(
        [(base + 1000 + i, "s", "en", t) for i, t in enumerate(uniq)],
        DOCS_COLS)
    pre = {r.doc_id: r for r in dedup_incremental_against_store(
        spark, sig, b2).collect()}
    assert len(pre) == 8

    stats = signature_store_compact(spark, sig)
    assert stats["rows_after"] == 12 + 8          # corpus + b1 once
    assert stats["rows_before"] == 12 + 16        # b1 appended twice
    assert stats["files_after"] <= stats["files_before"]

    post = {r.doc_id: r for r in dedup_incremental_against_store(
        spark, sig, b2).collect()}
    # decisions invariant: same flagged set, same dup_of
    assert {(d, r.dup_of) for d, r in pre.items()} \
        == {(d, r.dup_of) for d, r in post.items()}
    for i in range(8):
        assert post[base + 1000 + i].dup_of == base + i

    # counts repaired to the from-scratch reference store exactly
    ref = str(tmp_path / "ref")
    signature_store_write(spark, corpus.union(b1), ref)
    want = {r.doc_id: r for r in dedup_incremental_against_store(
        spark, ref, b2).collect()}
    for probe in (pre, post):
        assert {(d, r.n_corpus_matches, r.dup_of)
                for d, r in probe.items()} \
            == {(d, r.n_corpus_matches, r.dup_of)
                for d, r in want.items()}


def test_signature_evict_unflags_only_the_evicted_doc(spark, tmp_path):
    """Eviction is the deliberate decision-changer: duplicates of the
    evicted doc stop being flagged; every other verdict is unchanged."""
    from harbourbridge_spark.pipeline.dedup import (
        dedup_incremental_against_store, signature_store_evict,
        signature_store_write)

    texts = _uniq_texts("ev-corp", 6)
    corpus = spark.createDataFrame(
        [(100 + i, "s", "en", t) for i, t in enumerate(texts)],
        DOCS_COLS)
    sig = str(tmp_path / "sig")
    signature_store_write(spark, corpus, sig)

    # batch duplicates corpus docs 100 and 101
    batch = spark.createDataFrame(
        [(900, "s", "en", texts[0]), (901, "s", "en", texts[1])],
        DOCS_COLS)
    pre = {r.doc_id: r.dup_of for r in
           dedup_incremental_against_store(spark, sig, batch).collect()}
    assert pre == {900: 100, 901: 101}

    stats = signature_store_evict(spark, sig, "doc_id = 100")
    assert stats["evicted"] == 1

    post = {r.doc_id: r.dup_of for r in
            dedup_incremental_against_store(spark, sig,
                                            batch).collect()}
    assert post == {901: 101}       # 900 is clean now, 901 untouched


def test_curation_compact_scores_exactly_equal(spark, tmp_path):
    """Scoring any batch against the curation store before and after
    compaction is column-for-column identical, and every relation's
    file count is bounded afterwards."""
    from harbourbridge_spark.pipeline.curation import (
        curate_against_store, curation_store_append,
        curation_store_compact, curation_store_write)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    cur = str(tmp_path / "cur")
    curation_store_write(spark, docs.where("doc_id % 3 = 0"), cur)
    # a couple of appends so the store carries merge-shaped files
    curation_store_append(spark, cur, docs.where("doc_id % 3 = 1"))

    batch = docs.where("doc_id % 3 = 2").limit(40)
    pre = {r.doc_id: r for r in
           curate_against_store(spark, cur, batch).collect()}

    stats = curation_store_compact(spark, cur, max_files_per_relation=2)
    for name, s in stats.items():
        assert s["files_after"] <= max(2, s["files_before"]), (name, s)
        assert s["files_after"] <= 2, (name, s)

    post = {r.doc_id: r for r in
            curate_against_store(spark, cur, batch).collect()}
    assert pre.keys() == post.keys() and pre
    for d in pre:
        assert pre[d] == post[d], (d, pre[d], post[d])


def test_streaming_admission_decisions_invariant_across_compact(
        spark, tmp_path):
    """The e2e pin (VERDICT r10 ask 8 'Done' criterion): two IDENTICAL
    streaming admission pipelines process epoch 1, then fork A
    compacts all its state (signature store, curation store, verdict
    epochs) while fork B does not, then both process the same epoch-2
    file — and their epoch-2 admission verdicts are identical row for
    row.  Epoch 1 includes a simulated crash-replay double-append so
    the compact has real duplicate state to remove."""
    from harbourbridge_spark.pipeline.curation import (
        curation_store_compact, curation_store_write)
    from harbourbridge_spark.pipeline.dedup import (
        dedup_incremental_against_store, signature_store_append,
        signature_store_compact, signature_store_write)
    from harbourbridge_spark.streaming.corpus import (
        compact_admission_output, document_stream,
        streaming_corpus_admission)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id % 3 = 0")

    base = 50_000_000
    uniq = _uniq_texts("fork", 8)
    batch1 = [(base + i, "synthetic", "en", t)
              for i, t in enumerate(uniq)]
    batch1 += [(base + 500 + i, r.source, r.lang, r.text)
               for i, r in enumerate(corpus.limit(3).collect())]
    # epoch 2: copies of epoch-1 clean docs + fresh uniques
    batch2 = [(base + 1000 + i, "synthetic", "en", t)
              for i, t in enumerate(uniq)]
    batch2 += [(base + 2000 + i, "synthetic", "en", t)
               for i, t in enumerate(_uniq_texts("fork2", 4))]

    forks = {}
    for fork in ("a", "b"):
        sig = str(tmp_path / f"sig_{fork}")
        cur = str(tmp_path / f"cur_{fork}")
        sdir = str(tmp_path / f"in_{fork}")
        out = str(tmp_path / f"out_{fork}")
        ckpt = str(tmp_path / f"ckpt_{fork}")
        signature_store_write(spark, corpus, sig)
        curation_store_write(spark, corpus, cur)
        os.makedirs(sdir)
        _write_stream_file(spark, sdir, "e1", batch1)
        q = streaming_corpus_admission(
            document_stream(spark, sdir), sig, cur, out, ckpt)
        q.awaitTermination(180)
        # simulated crash-replay: the epoch-1 ADMITTED docs' raw
        # signature append (the exact call streaming_corpus_admission
        # makes after the verdict sink) lands a second time — the
        # at-least-once window is between that append and the
        # checkpoint commit
        adm_ids = [r.doc_id for r in spark.read.parquet(
            f"{out}/epoch=0").where("admitted").collect()]
        replay = spark.createDataFrame(
            [row for row in batch1 if row[0] in adm_ids], DOCS_COLS)
        signature_store_append(spark, sig, replay)
        forks[fork] = (sig, cur, sdir, out, ckpt)

    # fork A compacts EVERYTHING; fork B is the untouched control
    sig_a, cur_a, _, out_a, _ = forks["a"]
    sstats = signature_store_compact(spark, sig_a)
    assert sstats["rows_after"] < sstats["rows_before"]
    curation_store_compact(spark, cur_a)
    ostats = compact_admission_output(spark, out_a)
    assert ostats["files_after"] <= ostats["files_before"]

    # epoch-1 verdicts must have survived the output compact intact
    va1 = {r.doc_id: (r.admitted, r.reason, r.dup_of) for r in
           spark.read.parquet(f"{out_a}/epoch=0").collect()}
    vb1 = {r.doc_id: (r.admitted, r.reason, r.dup_of) for r in
           spark.read.parquet(f"{forks['b'][3]}/epoch=0").collect()}
    assert va1 == vb1 and len(va1) == len(batch1)

    # both forks now process the SAME epoch-2 file (checkpoint resume)
    verdicts = {}
    for fork in ("a", "b"):
        sig, cur, sdir, out, ckpt = forks[fork]
        time.sleep(1.1)
        _write_stream_file(spark, sdir, "e2", batch2)
        q = streaming_corpus_admission(
            document_stream(spark, sdir), sig, cur, out, ckpt)
        q.awaitTermination(180)
        epochs = sorted(os.listdir(out))
        ep2 = [e for e in epochs if e.startswith("epoch=")][-1]
        verdicts[fork] = {
            r.doc_id: (r.admitted, r.reason, r.dup_of,
                       r.quality_score, r.contaminated, r.boiler_frac)
            for r in spark.read.parquet(f"{out}/{ep2}").collect()}

    assert verdicts["a"] == verdicts["b"]
    assert len(verdicts["a"]) == len(batch2)
    # and the verdicts are non-trivial: epoch-1 copies rejected as
    # near-dups of epoch-1 ids, fresh docs admitted
    for i in range(8):
        admitted, reason, dup_of = verdicts["a"][base + 1000 + i][:3]
        assert not admitted and reason == "near_dup"
        assert base <= dup_of < base + 500
    for i in range(4):
        assert verdicts["a"][base + 2000 + i][0]    # admitted


def test_gram_store_round_trip_and_admission(spark, tmp_path):
    """Incremental ExactSubstr store (VERDICT r14 ask 5), the full
    round trip: build the 5-gram store from a corpus slice; a probe
    batch gets hand-computed spans (corpus-hit phrase + intra-batch
    shared phrase, unique docs untouched); admission appends the
    batch's grams (shared storecache lock); a SECOND batch repeating
    the first batch's text is flagged ONLY because admission
    happened — the same probe against a corpus-only store stays
    silent."""
    from harbourbridge_spark.pipeline.dedup import (
        gram_store_write, substring_probe_against_store)

    phrase = "alpha beta gamma delta epsilon"       # exactly K=5 tokens
    corpus = [
        (0, "s", "en", phrase + " zeta one two three four"),
        (1, "s", "en", _uniq_texts("corp", 1)[0]),
    ]
    store = str(tmp_path / "grams")
    gram_store_write(spark, spark.createDataFrame(corpus, DOCS_COLS),
                     store)

    uniq = _uniq_texts("batch", 1)[0]               # 30 unique tokens
    b1 = [
        (10, "s", "en", "pre1 pre2 " + phrase + " post"),
        (11, "s", "en", uniq),
        (12, "s", "en", "sh1 sh2 sh3 sh4 sh5"),
        (13, "s", "en", "lead sh1 sh2 sh3 sh4 sh5"),
    ]
    spans = {r.doc_id: (r.start_pos, r.end_pos, r.n_tokens)
             for r in substring_probe_against_store(
                 spark, store, spark.createDataFrame(b1, DOCS_COLS),
                 admit=True).collect()}
    # doc 10: the corpus phrase occupies token positions 3..7;
    # docs 12/13: the intra-batch shared phrase (store never saw it);
    # doc 11: globally unique, no span
    assert spans == {10: (3, 7, 5), 12: (1, 5, 5), 13: (2, 6, 5)}

    # batch 2 repeats doc 11's ADMITTED text verbatim: every gram
    # position is now duplicated -> one island covering the doc
    b2 = spark.createDataFrame([(20, "s", "en", uniq)], DOCS_COLS)
    spans2 = {r.doc_id: (r.start_pos, r.end_pos, r.n_tokens)
              for r in substring_probe_against_store(
                  spark, store, b2).collect()}
    assert spans2 == {20: (1, 30, 30)}

    # ... and WITHOUT the admission it is not flagged (fresh
    # corpus-only store): the flag above came from the append
    store2 = str(tmp_path / "grams2")
    gram_store_write(spark, spark.createDataFrame(corpus, DOCS_COLS),
                     store2)
    assert substring_probe_against_store(spark, store2, b2).count() == 0


def test_phash_store_round_trip_and_admission(spark, tmp_path):
    """Incremental phash store (r15, r16 layout): build from corpus
    media, probe a batch (resized/re-encoded twins of corpus classes
    flag with the class-min corpus media as dup_of; a batch-only
    class stays silent), admit — the append FILTERS to clean
    intra-batch keepers (ADVICE r15: flagged copies and non-
    representatives never enter the store) — and a SECOND batch
    duplicating the first batch's admitted class is flagged only
    because admission happened.  Compaction (the bucket-sidecar
    rebuild) must not change any verdict."""
    from pyspark.sql import functions as F

    from harbourbridge_spark.pipeline.multimodal import (
        phash_probe_against_store, phash_store_compact,
        phash_store_write, synth_media)

    def media(doc_ids):
        ids = (spark.createDataFrame([(d,) for d in doc_ids],
                                     "doc_id long")
               .selectExpr("explode(sequence(doc_id * 6, "
                           "doc_id * 6 + 5)) AS media_id"))
        return synth_media(ids, "image", fmt="phash")

    store = str(tmp_path / "phash")
    # corpus: docs 0 and 1 (classes 0 and 1)
    phash_store_write(spark, media([0, 1]), store)

    # batch: doc 200 (class 0 -> twin of doc 0's images, must flag
    # with dup_of = 0*6 = 0) and doc 7 (class 7, batch-only -> silent)
    verdicts = {r.media_id: r.dup_of
                for r in phash_probe_against_store(
                    spark, store, media([200, 7]),
                    admit=True).collect()}
    assert verdicts == {1200 + v: 0 for v in range(6)}

    # the admit append is FILTERED: doc 200's media were flagged and
    # doc 7's non-representative variants are intra-batch near-dups
    # of media 42 — only the keeper hash entered the store
    store_ids = {r.media_id for r in spark.read.parquet(
        f"{store}/hashes").collect()}
    assert store_ids == set(range(12)) | {42}

    # second batch: doc 407 (class 7) — class 7 now IN the store via
    # the admitted doc-7 keeper; dup_of = doc 7's min media = 42
    verdicts2 = {r.media_id: r.dup_of
                 for r in phash_probe_against_store(
                     spark, store, media([407])).collect()}
    assert verdicts2 == {2442 + v: 42 for v in range(6)}

    # compaction rebuilds the sidecar to one row per bucket; verdicts
    # are invariant
    phash_store_compact(spark, store)
    buckets = spark.read.parquet(f"{store}/buckets_k3")
    assert buckets.groupBy("b", "slice").count() \
        .where("count > 1").count() == 0
    verdicts3 = {r.media_id: r.dup_of
                 for r in phash_probe_against_store(
                     spark, store, media([407])).collect()}
    assert verdicts3 == verdicts2

    # fresh corpus-only store: class 7 silent (the flag above came
    # from the admission append)
    store2 = str(tmp_path / "phash2")
    phash_store_write(spark, media([0, 1]), store2)
    assert phash_probe_against_store(spark, store2,
                                     media([407])).count() == 0


def test_audio_fp_store_round_trip_and_admission(spark, tmp_path):
    """Incremental afp store (r16): the hash64 store machinery
    applied to the audio fingerprint — corpus build, batch probe
    (re-leveled/re-encoded twins of corpus classes flag with the
    class-min corpus clip as dup_of; a batch-only class stays
    silent), filtered admission, and a second batch flagging against
    the admitted keeper."""
    from harbourbridge_spark.pipeline.multimodal import (
        audio_fp_probe_against_store, audio_fp_store_write,
        synth_media)

    def media(doc_ids):
        ids = (spark.createDataFrame([(d,) for d in doc_ids],
                                     "doc_id long")
               .selectExpr("explode(sequence(doc_id * 5, "
                           "doc_id * 5 + 4)) AS media_id"))
        return synth_media(ids, "audio", fmt="afp")

    store = str(tmp_path / "afp")
    audio_fp_store_write(spark, media([0, 1]), store)

    # doc 200 (class 0) flags with dup_of = 0; doc 7 (class 7,
    # batch-only) is silent but its keeper (media 35) admits
    verdicts = {r.media_id: r.dup_of
                for r in audio_fp_probe_against_store(
                    spark, store, media([200, 7]),
                    admit=True).collect()}
    assert verdicts == {1000 + v: 0 for v in range(5)}
    store_ids = {r.media_id for r in spark.read.parquet(
        f"{store}/hashes").collect()}
    assert store_ids == set(range(10)) | {35}

    # doc 407 (class 7) now flags against the admitted keeper
    verdicts2 = {r.media_id: r.dup_of
                 for r in audio_fp_probe_against_store(
                     spark, store, media([407])).collect()}
    assert verdicts2 == {2035 + v: 35 for v in range(5)}


def test_video_thash_store_round_trip(spark, tmp_path):
    """Incremental TEMPORAL video store (r16): corpus build writes
    THASH_SLOTS rows per clip + the (slot, b, slice) sidecar; a
    batch clip flags only on a >= 2-of-3 slot-vote — the MP4 twin
    and the retouched re-encode (2/3 votes: far end card) of a
    corpus class resolve to the SAME canonical (the class-min Y4M
    master), while the shared-opening decoy (1/3 votes vs the main
    cluster) flags only against the corpus DECOYS of its class; a
    batch-only class stays silent."""
    from harbourbridge_spark.pipeline.multimodal import (
        THASH_SLOTS, synth_media, video_thash_probe_against_store,
        video_thash_store_write)

    def media(doc_ids):
        ids = (spark.createDataFrame([(d,) for d in doc_ids],
                                     "doc_id long")
               .selectExpr("explode(sequence(doc_id * 4, "
                           "doc_id * 4 + 3)) AS media_id"))
        return synth_media(ids, "video", fmt="thash")

    store = str(tmp_path / "thash")
    video_thash_store_write(spark, media([0, 200]), store)
    rows = spark.read.parquet(f"{store}/hashes")
    assert rows.count() == 2 * 4 * THASH_SLOTS
    side = spark.read.parquet(f"{store}/buckets_k3")
    assert {r.slot for r in side.select("slot").distinct()
            .collect()} == set(range(THASH_SLOTS))

    # doc 600 (class 0): variants 0/1/2 -> canonical 0 (the master);
    # the decoy -> the corpus decoy 3.  doc 601 (class 1,
    # batch-only): silent.
    verdicts = {r.media_id: r.dup_of
                for r in video_thash_probe_against_store(
                    spark, store, media([600, 601])).collect()}
    assert verdicts == {2400: 0, 2401: 0, 2402: 0, 2403: 3}


def test_streaming_media_admission_e2e(spark, tmp_path):
    """Streaming perceptual gate (r15, r16 verdict semantics): media
    batches arrive as parquet files; epoch 1's intra-batch near-dup
    groups admit ONLY their min-id representative and the verdict
    SAYS so (admitted=false + intra_dup_of naming the keeper —
    ADVICE r15), and epoch 2's resized/re-encoded twins of BOTH the
    seed index and epoch 1's admitted keeper are rejected with
    dup_of pointing at the right keeper."""
    import glob
    import os

    from pyspark.sql import functions as F

    from harbourbridge_spark.pipeline.multimodal import (
        phash_store_write, synth_media)
    from harbourbridge_spark.streaming.corpus import (
        media_stream, streaming_media_admission)

    def media_rows(doc_ids):
        ids = (spark.createDataFrame([(d,) for d in doc_ids],
                                     "doc_id long")
               .selectExpr("explode(sequence(doc_id * 6, "
                           "doc_id * 6 + 5)) AS media_id"))
        return synth_media(ids, "image", fmt="phash") \
            .select("media_id", "kind", "content")

    store = str(tmp_path / "phash_store")
    sdir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(sdir)
    # seed index: docs 0, 1 (classes 0, 1)
    phash_store_write(spark, media_rows([0, 1]), store)

    def drop_file(name, doc_ids):
        tmp = f"{sdir}/{name}_tmp"
        media_rows(doc_ids).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        import shutil
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{sdir}/{name}.parquet")
        shutil.rmtree(tmp)

    # epoch 1: docs 7 and 207 — class 7 twice (new class; intra-batch
    # near-dups of each other)
    drop_file("e1", [7, 207])
    q = streaming_media_admission(
        media_stream(spark, sdir), store, out, ckpt)
    q.awaitTermination(120)

    e1 = {r.media_id: (r.dup_of, r.intra_dup_of, r.admitted)
          for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    # nothing matches the seed store (dup_of all null), but only the
    # batch keeper (min media 42) is ADMITTED: every other epoch-1
    # media is an intra-batch near-dup of it (doc 7's own
    # resized/noisy variants included — they ARE copies) and the
    # verdict now names the keeper it duplicates
    assert set(e1) == {42 + v for v in range(6)} \
        | {1242 + v for v in range(6)}
    assert e1[42] == (None, None, True)
    for mid, (d, intra, adm) in e1.items():
        if mid != 42:
            assert (d, intra, adm) == (None, 42, False)
    # the store grew by exactly that one keeper hash
    store_ids = {r.media_id for r in spark.read.parquet(
        f"{store}/hashes").collect()}
    assert store_ids == set(range(12)) | {42}

    # epoch 2: doc 201 (class 1 -> seed twin, dup_of = 1*6 = 6) and
    # doc 407 (class 7 -> twin of epoch-1's ADMITTED keeper 42)
    drop_file("e2", [201, 407])
    q2 = streaming_media_admission(
        media_stream(spark, sdir), store, out, ckpt)
    q2.awaitTermination(120)
    e2 = {r.media_id: (r.dup_of, r.admitted)
          for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert e2 == {**{1206 + v: (6, False) for v in range(6)},
                  **{2442 + v: (42, False) for v in range(6)}}
    # rejected epochs grow nothing
    assert {r.media_id for r in spark.read.parquet(
        f"{store}/hashes").collect()} == store_ids


def test_streaming_audio_admission_e2e(spark, tmp_path):
    """The streaming admission gate with kind="audio" (r16): the
    same store/probe/verdict machinery over afp64 fingerprints — a
    re-leveled twin of a seed clip is rejected with dup_of at the
    seed keeper; a new class admits only its intra-batch
    representative."""
    import glob
    import os
    import shutil

    from harbourbridge_spark.pipeline.multimodal import (
        audio_fp_store_write, synth_media)
    from harbourbridge_spark.streaming.corpus import (
        media_stream, streaming_media_admission)

    def media_rows(doc_ids):
        ids = (spark.createDataFrame([(d,) for d in doc_ids],
                                     "doc_id long")
               .selectExpr("explode(sequence(doc_id * 5, "
                           "doc_id * 5 + 4)) AS media_id"))
        return synth_media(ids, "audio", fmt="afp") \
            .select("media_id", "kind", "content")

    store = str(tmp_path / "afp_store")
    sdir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(sdir)
    audio_fp_store_write(spark, media_rows([0]), store)   # class 0

    tmp = f"{sdir}/e1_tmp"
    # doc 200 (class 0 -> seed twins) + doc 7 (new class 7)
    media_rows([200, 7]).coalesce(1).write.mode(
        "overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, f"{sdir}/e1.parquet")
    shutil.rmtree(tmp)

    q = streaming_media_admission(
        media_stream(spark, sdir), store, out, ckpt, kind="audio")
    q.awaitTermination(120)

    e1 = {r.media_id: (r.dup_of, r.intra_dup_of, r.admitted)
          for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    # doc 200's five clips flag against the seed (dup_of = 0);
    # doc 7's keeper (35) admits, its variants name it
    assert {m: d for m, (d, _i, _a) in e1.items() if d is not None} \
        == {1000 + v: 0 for v in range(5)}
    assert e1[35] == (None, None, True)
    for v in range(1, 5):
        assert e1[35 + v] == (None, 35, False)
    store_ids = {r.media_id for r in spark.read.parquet(
        f"{store}/hashes").collect()}
    assert store_ids == set(range(5)) | {35}
