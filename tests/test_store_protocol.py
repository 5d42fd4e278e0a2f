"""The persisted-store protocol (pipeline/storecache.py), checked the
same way for all eight store kinds:

1. crash during publish: a build that raises leaves no store (and no
   private build directory) at the path, and the next publish
   succeeds;
2. replay idempotence: appending the same batch twice leaves every
   probe verdict unchanged (and the first append does change them, so
   the check is not vacuous);
3. compaction keeps the probe output bit-identical, for every kind
   that has one;
4. every append path — the raw append verb and any probe's admit
   path — takes the store lock.
"""

import hashlib
import os
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np
import pytest

from harbourbridge_spark.pipeline import curation as C
from harbourbridge_spark.pipeline import dedup as D
from harbourbridge_spark.pipeline import multimodal as M
from harbourbridge_spark.pipeline import similarity as S
from harbourbridge_spark.pipeline import storecache

DOCS_COLS = "doc_id long, source string, lang string, text string"


def _uniq_texts(tag: str, n: int, words: int = 30) -> list:
    """Texts with disjoint vocab per doc: doc i only near-dups its own
    copies."""
    return [" ".join(hashlib.md5(f"{tag}-{i}-{j}".encode())
                     .hexdigest()[:12] for j in range(words))
            for i in range(n)]


@dataclass
class Kind:
    publish: Callable          # (spark, path) -> None
    append: Callable           # (spark, path) -> None, one fixed batch
    probe: Callable            # (spark, path) -> DataFrame
    compact: Optional[Callable] = None
    admits: list = field(default_factory=list)   # (spark, path) -> any


def _text_kind(spark, publish, append, probe, admit=None) -> Kind:
    corpus_t, batch_t = _uniq_texts("pc", 6), _uniq_texts("pb", 4)
    corpus = spark.createDataFrame(
        [(i, "s", "en", t) for i, t in enumerate(corpus_t)], DOCS_COLS)
    batch = spark.createDataFrame(
        [(100 + i, "s", "en", t) for i, t in enumerate(batch_t)],
        DOCS_COLS)
    probe_docs = spark.createDataFrame(
        [(900 + i, "s", "en", t) for i, t in enumerate(batch_t)]
        + [(950, "s", "en", corpus_t[0])], DOCS_COLS)
    fresh = spark.createDataFrame(
        [(700 + i, "s", "en", t)
         for i, t in enumerate(_uniq_texts("pf", 2))], DOCS_COLS)
    return Kind(
        publish=lambda sp, p: publish(sp, corpus, p),
        append=lambda sp, p: append(sp, p, batch),
        probe=lambda sp, p: probe(sp, p, probe_docs),
        admits=[lambda sp, p: admit(sp, p, fresh)] if admit else [])


def _sig(spark) -> Kind:
    k = _text_kind(
        spark, D.signature_store_write, D.signature_store_append,
        D.dedup_incremental_against_store,
        lambda sp, p, b: D.dedup_incremental_against_store(
            sp, p, b, admit=True))
    k.compact = D.signature_store_compact
    return k


def _gram(spark) -> Kind:
    return _text_kind(
        spark, D.gram_store_write, D.gram_store_append,
        D.substring_probe_against_store,
        lambda sp, p, b: D.substring_probe_against_store(
            sp, p, b, admit=True))


def _curation(spark) -> Kind:
    # a shared footer gives the store boilerplate and eval grams (doc
    # 0 is on the eval residue); the probe repeats the batch's words,
    # so folding the batch moves the probe's rarity scores
    footer = "read more about the shared footer of every page here"
    batch_t = _uniq_texts("cb", 6)

    def docs(ids, texts):
        return spark.createDataFrame(
            [(i, "s", "en", f"{t} {footer}") for i, t in zip(ids, texts)],
            DOCS_COLS)

    corpus = docs(range(12), _uniq_texts("cc", 12))
    batch = docs(range(100, 106), batch_t)
    probe = docs(range(900, 906), batch_t)
    return Kind(
        publish=lambda sp, p: C.curation_store_write(sp, corpus, p),
        append=lambda sp, p: C.curation_store_append(sp, p, batch),
        probe=lambda sp, p: C.curate_against_store(sp, p, probe),
        compact=C.curation_store_compact)


def _ann(spark) -> Kind:
    # the batch holds near-copies of the query vectors, so once
    # appended they are every query's nearest neighbours
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(70, S.DIM)).astype(np.float32)
    vecs[60:] = vecs[:10] + np.float32(1e-3)

    def emb(lo, hi):
        return spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(lo, hi)],
            "vec_id long, embedding array<float>")

    return Kind(
        publish=lambda sp, p: S.ann_index_store_write(sp, emb(20, 60), p),
        append=lambda sp, p: S.ann_index_store_append(sp, p, emb(60, 70)),
        probe=lambda sp, p: S.ann_query_store(sp, p, emb(0, 10)))


def _media_kind(spark, kind, fmt, variants, write, append, probe,
                admit_probe=None) -> Kind:
    def media(doc_ids):
        ids = (spark.createDataFrame([(d,) for d in doc_ids],
                                     "doc_id long")
               .selectExpr(f"explode(sequence(doc_id * {variants}, "
                           f"doc_id * {variants} + {variants - 1})) "
                           "AS media_id"))
        return M.synth_media(ids, kind, fmt=fmt)

    # classes repeat mod 200: the probe's doc 407 is a twin of the
    # appended doc 7, doc 200 a twin of corpus doc 0
    k = Kind(publish=lambda sp, p: write(sp, media([0, 1]), p),
             append=lambda sp, p: append(sp, p, media([7])),
             probe=lambda sp, p: probe(sp, p, media([407, 200])),
             compact=M.phash_store_compact)
    if admit_probe:
        k.admits = [lambda sp, p: admit_probe(sp, p, media([9]),
                                              admit=True)]
    return k


KINDS = {
    "sig": _sig,
    "substrgrams": _gram,
    "curation": _curation,
    "annidx": _ann,
    "phash": lambda spark: _media_kind(
        spark, "image", "phash", M.PHASH_VARIANTS, M.phash_store_write,
        M.phash_store_append, M.phash_probe_against_store,
        M.phash_probe_against_store),
    "afp": lambda spark: _media_kind(
        spark, "audio", "afp", M.AFP_VARIANTS, M.audio_fp_store_write,
        M.audio_fp_store_append, M.audio_fp_probe_against_store,
        M.audio_fp_probe_against_store),
    "vhash": lambda spark: _media_kind(
        spark, "video", "vhash", M.VHASH_VARIANTS,
        M.video_phash_store_write, M.video_phash_store_append,
        M.video_phash_probe_against_store,
        M.video_phash_probe_against_store),
    "thash": lambda spark: _media_kind(
        spark, "video", "thash", M.THASH_VARIANTS,
        M.video_thash_store_write, M.video_thash_store_append,
        M.video_thash_probe_against_store),
}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", sorted(KINDS))
def test_store_protocol(spark, tmp_path, monkeypatch, name):
    from pyspark.sql.readwriter import DataFrameWriter

    kind = KINDS[name](spark)
    path = str(tmp_path / name)

    # 1. crash during publish: the first relation write lands in the
    # private build directory, then the build dies
    real_parquet = DataFrameWriter.parquet

    def crashing_parquet(self, p, *a, **k):
        real_parquet(self, p, *a, **k)
        raise RuntimeError("simulated crash mid-build")

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(Exception, match="simulated crash"):
        kind.publish(spark, path)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    assert not os.path.exists(path)
    assert not [e for e in os.listdir(tmp_path)
                if e.startswith(f"{name}.")]
    kind.publish(spark, path)
    assert os.path.isdir(path)

    # 2. replay idempotence
    before = _rows(kind.probe(spark, path))
    kind.append(spark, path)
    once = _rows(kind.probe(spark, path))
    assert once != before, "the append never reached the probe"
    kind.append(spark, path)
    assert _rows(kind.probe(spark, path)) == once

    # 3. compaction is invisible to the probe
    if kind.compact is not None:
        kind.compact(spark, path)
        assert _rows(kind.probe(spark, path)) == once

    # 4. every append path takes the store lock
    real_lock = storecache.store_lock
    taken = []

    def recording_lock(target, exclusive=True):
        taken.append(os.path.abspath(target))
        return real_lock(target, exclusive)

    monkeypatch.setattr(storecache, "store_lock", recording_lock)
    for append in [kind.append] + kind.admits:
        taken.clear()
        append(spark, path)
        assert os.path.abspath(path) in taken
