#!/usr/bin/env python
"""Volume rehearsal for the perceptual-dedup family (r15, r16).

The oracle fixtures exercise phash at a few thousand media rows; this
drives the SAME code (synth -> decode -> dHash -> store / asymmetric
probe) at million-media volume in the shape a real crawl ingest has:
INDEX waves keep appending fresh media to the persisted store while
fixed-size PROBE waves (admit=True, the production gate) measure the
batch-side cost against the ever-larger corpus.  r16 change: the
waves are explicitly split because the admission append now FILTERS
(ADVICE r15 — flagged copies never enter the store), so an all-dup
probe wave no longer grows the store as a side effect; growth comes
from the index appends, which also makes the flatness claim cleaner
(probe timings are pure probe, not probe + admission write).

The claims this pins:

1. probe cost is BATCH-sized, not store-sized — probe times stay
   ~flat while the store grows by an index wave per round.  Since
   r16 the probe takes bucket stats from the PERSISTED SIDECAR
   ({store}/buckets_k3) instead of windowing over the store
   (VERDICT r15 ask 4), so the only store-rows-proportional work
   left is one pruned columnar scan of 16-byte hash rows;
2. the MAX_BUCKET star-degrade carries the adversarial class shape
   (every class bucket is thousands of rows deep at this volume —
   far past the 256 cap, so the star path IS the measured path);
3. verdict accounting is EXACT at volume: every probe media must
   flag, and its dup_of must be the class-min media of the wave-0
   index (dup_of = 6 * ((media_id // 6) % 200) by construction —
   6 containers per doc since r16) — asserted for every row, not
   sampled; and the filtered admission must append NOTHING (every
   probe media is a flagged dup);
4. whole-run PSS stays bounded (one long-lived session spans every
   wave, so the claim covers the cumulative volume).

Usage:  python tools/phash_rehearsal.py
Env:    PHASH_WAVE_DOCS   docs per index wave (default 125_000 ->
                          750k media per wave at 6 variants/doc)
        PHASH_PROBE_DOCS  docs per probe batch (default
                          PHASH_WAVE_DOCS // 5 — fixed across waves)
        PHASH_WAVES       index waves incl. wave 0 (default 4 ->
                          500k docs / 3M media in the store)
        REHEARSAL_MAX_PSS_GIB  gate (default 48)
        REHEARSAL_TMP     workdir root (default tempfile's)
        SPARK_GRAFT_CPUS  (default 32)

Prints one JSON line for SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ingest_rehearsal import PeakSampler  # noqa: E402

VARIANTS = 6                    # synth_phash_variant containers/doc


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from harbourbridge_spark.pipeline.multimodal import (
        phash_probe_against_store, phash_store_append, phash_store_write,
        synth_media)

    wave_docs = int(os.environ.get("PHASH_WAVE_DOCS", "125000"))
    probe_docs = int(os.environ.get("PHASH_PROBE_DOCS",
                                    str(max(1, wave_docs // 5))))
    n_waves = int(os.environ.get("PHASH_WAVES", "4"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    max_pss_gib = float(os.environ.get("REHEARSAL_MAX_PSS_GIB", "48"))

    work = tempfile.mkdtemp(prefix="phash_rehearsal_",
                            dir=os.environ.get("REHEARSAL_TMP"))
    store = os.path.join(work, "phash_store")

    sampler = PeakSampler()
    sampler.start()
    waves = []
    try:
        from harbourbridge_spark.confscope import apply_recommended

        # creation-time Arrow input bound applied from the one
        # source dict (ADVICE r14/r15)
        spark = (apply_recommended(
            SparkSession.builder.master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "16g"))
            .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(64).repartition(64).mapInPandas(
            lambda it: it, "id long").count()

        def media_for(doc_lo: int, doc_hi: int):
            ids = spark.range(doc_lo, doc_hi).selectExpr(
                f"explode(sequence(id * {VARIANTS}, "
                f"id * {VARIANTS} + {VARIANTS - 1})) AS media_id")
            return synth_media(ids, "image", fmt="phash")

        # probe batches draw from a doc range disjoint from every
        # index wave (classes still repeat mod 200, so every probe
        # media is a near-dup of a wave-0 class min)
        probe_base = n_waves * wave_docs

        def store_count() -> int:
            return spark.read.parquet(f"{store}/hashes").count()

        t_run = time.time()
        store_rows = 0
        for w in range(n_waves):
            lo, hi = w * wave_docs, (w + 1) * wave_docs
            t0 = time.time()
            if w == 0:
                phash_store_write(spark, media_for(lo, hi), store)
            else:
                phash_store_append(spark, store, media_for(lo, hi))
            index_sec = round(time.time() - t0, 1)
            store_rows = store_count()
            assert store_rows == VARIANTS * hi, store_rows
            waves.append({"wave": w, "kind": "index",
                          "media": VARIANTS * wave_docs,
                          "sec": index_sec,
                          "media_per_sec": round(
                              VARIANTS * wave_docs / index_sec)})

            # fixed-size probe against the store as of wave w
            plo = probe_base + w * probe_docs
            phi = plo + probe_docs
            t0 = time.time()
            verdicts = phash_probe_against_store(
                spark, store, media_for(plo, phi), admit=True)
            # EXACT accounting, every row: each probe media must flag
            # with the wave-0 class-min media (VARIANTS * class)
            bad = verdicts.filter(
                F.col("dup_of")
                != (F.col("media_id") / VARIANTS).cast("long")
                % 200 * VARIANTS
            ).count()
            n_verd = verdicts.count()
            probe_sec = round(time.time() - t0, 1)
            assert bad == 0, f"wave {w}: {bad} wrong dup_of rows"
            assert n_verd == VARIANTS * probe_docs, (w, n_verd)
            # the filtered admission appends nothing — every probe
            # media was a flagged dup (ADVICE r15 admit filter)
            assert store_count() == store_rows
            waves.append({"wave": w, "kind": "probe",
                          "media": VARIANTS * probe_docs,
                          "sec": probe_sec,
                          "store_rows": store_rows,
                          "media_per_sec": round(
                              VARIANTS * probe_docs / probe_sec)})

        total_sec = round(time.time() - t_run, 1)
        spark.stop()
    finally:
        sampler.stop.set()
        shutil.rmtree(work, ignore_errors=True)

    peak_pss_gib = round(sampler.peak_pss_kb / (1 << 20), 2)
    peak_rss_gib = round(sampler.peak_kb / (1 << 20), 2)
    probe_secs = [w["sec"] for w in waves if w["kind"] == "probe"]
    out = {
        "metric": "phash_rehearsal",
        "docs_total": wave_docs * n_waves,
        "media_total": VARIANTS * wave_docs * n_waves,
        "probe_docs": probe_docs,
        "waves": waves,
        "probe_secs": probe_secs,
        "total_sec": total_sec,
        "peak_pss_gib": peak_pss_gib,
        "peak_rss_gib": peak_rss_gib,
        "pss_gate_gib": max_pss_gib,
        "pss_ok": peak_pss_gib <= max_pss_gib,
    }
    print(json.dumps(out))
    return 0 if peak_pss_gib <= max_pss_gib else 1


if __name__ == "__main__":
    sys.exit(main())
