#!/usr/bin/env python
"""Repo-wide physical-plan linter: every registry entry's executed
plan is swept for scale anti-patterns. tests/test_plans.py pins ~25
entries' SPECIFIC plan properties (broadcasts, pushdown, pruning);
this tool enforces the NEGATIVE invariants across all ~98 entries
automatically, so a regression in an un-pinned entry (a join
degrading to a cartesian, a Python UDF sneaking into a hot path)
fails CI instead of surfacing in a benchmark three rounds later.

Checks per entry:
- no CartesianProduct;
- no BroadcastNestedLoopJoin, UNLESS every such join in the plan has
  a literal/one-row side (the legitimate tiny-cross-join shape, e.g.
  a 1-row per-dimension stats relation or a VALUES band list) —
  entries that need one are ALLOWLISTED with a justification;
- no BatchEvalPython (row-at-a-time Python UDF) anywhere, ever;
- ArrowEvalPython / (Flat)MapInPandas / MapInArrow only in entries
  allowlisted as deliberately Python-kernel-backed (multimodal
  decode, vectorized hash kernels).

Usage: python tools/plan_lint.py [name ...]; exits non-zero on any
violation. Also wired into pytest (tests/test_plan_lint.py).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PLAN_LINT_SF_DIR", "/root/testdata/sf0.001")

# Entries whose plans legitimately contain a Python eval node: the
# operator IS an Arrow-batched Python kernel by design (multimodal
# decode, numpy signature kernels). BatchEvalPython (row-at-a-time)
# is never acceptable, even here.
PYTHON_KERNEL_OK = {
    "multimodal_features", "multimodal_decode_wav",
    "multimodal_decode_bmp", "multimodal_decode_ppm",
    "multimodal_decode_png", "multimodal_decode_jpeg",
    "multimodal_decode_jpeg_progressive",
    "multimodal_decode_gif", "multimodal_decode_gif_animated",
    "multimodal_decode_webp",
    # r10: Arrow-batched FLAC/AIFF synth+decode / sample-DSP kernels
    "multimodal_decode_flac", "multimodal_audio_analysis",
    "multimodal_decode_aiff",
    # mp3: native Layer III sample decode is a per-row numpy codec
    # (bit reservoir + Huffman + IMDCT + polyphase synthesis) — an
    # Arrow-batched kernel by design, like the rest of the codecs
    "multimodal_decode_mp3", "multimodal_decode_mp3_lsf",
    "multimodal_decode_y4m",
    "multimodal_meta_mp3", "multimodal_meta_mp4",
    # r11: ISO BMFF sample-table walk + MJPEG-in-MP4 per-frame JPEG
    # decode — per-row byte-level container/codec kernels by design
    "multimodal_mp4_frames", "multimodal_decode_mjpeg",
    "multimodal_mp4_frames_frag",
    # r11: VP8 bool-coded frame-header walk — per-row byte kernel
    "multimodal_meta_vp8",
    # r11: TIFF 6.0 strip/LZW/PackBits decode — per-row byte kernel
    "multimodal_decode_tiff",
    # r11: H.264 SPS exp-Golomb walk — per-row byte kernel
    "multimodal_meta_h264",
    # r11: G.711 companded-WAV decode — per-row byte kernel
    "multimodal_decode_g711",
    # r11: Ogg page walk + Vorbis/Opus ID parse — per-row byte kernel
    "multimodal_meta_ogg",
    # r12: native Vorbis sample decode (in-stream codebooks, floor1,
    # residue, IMDCT) — per-row numpy codec, Arrow-batched by design
    # (r13 adds the salvage twin over the damaged fixture lattice)
    "multimodal_decode_vorbis", "multimodal_decode_vorbis_salvage",
    # r11: WARC container parse — file-granular byte kernel (the
    # Common Crawl scale shape: parallelism IS the file count); the
    # fixture muxer adds a grouped-Pandas build stage (r13 adds the
    # salvage-drop drift rollup over the same parse kernel)
    "warc_ingest", "warc_ingest_gzip", "warc_stats",
    "warc_to_documents", "warc_salvage_stats",
    "multimodal_resize", "multimodal_frame_features",
    "multimodal_pixel_dedup",
    # r16: per-cluster numpy cosine kernel (applyInPandas plans as
    # FlatMapGroupsInPandas) replacing the interpreted zip_with/
    # aggregate fold — quadratic-capped blocks, Arrow-batched by
    # design (OPTIMIZATION_r16.md §2)
    "dedup_semdedup",
    # the LSH verify pass: one mapInPandas over the band buckets
    # (_bucket_verify) pairs and verifies each bucket where it lies;
    # its input kernel is checkpointed, the bucket pass is the entry's
    # final stage
    "dedup_lsh_verified",
    # NOTE: the perceptual hash64 entries (phash/audio_fp/video_phash
    # batch dedup + every incremental probe) do NOT appear here since
    # r16 — _hash64_cluster localCheckpoints its input, so their
    # FINAL plans are checkpoint scans + pure JVM SQL (the minhash
    # family precedent below).
    # NOTE: the vectorized-kernel dedup entries (minhash_fast, simhash
    # family) do NOT appear here even though they run Arrow kernels —
    # their signatures are localCheckpoint()ed, so the FINAL plan this
    # linter examines reads `Scan ExistingRDD` with the Python stage
    # already materialized in a separate job. The linter sees final
    # plans only; checkpointed upstream stages are out of its scope.
}

# Entries allowed to contain BroadcastNestedLoopJoin because every
# nested-loop build side is bounded tiny — cost = O(|big side|), not
# a quadratic pair scan. Value = the MAX number of BNLJ nodes the
# entry's plan may contain (empirically derived; run with this dict
# emptied to re-derive): a future edit that introduces an ADDITIONAL
# nested-loop join to an allowlisted entry trips the count instead of
# hiding behind the exemption (a degradation of an EXISTING join's
# build side from tiny to corpus-sized remains out of this linter's
# reach — that is what the per-entry pins in test_plans.py and the
# stress harness cover).
TINY_CROSS_OK = {
    # literal VALUES band list (4-8 rows) cross-joined for band
    # expansion (_band_expand_clause)
    "dedup_minhash_lsh": 6, "dedup_minhash_lsh_t35": 6,
    "lsh_bucket_stats": 1,
    "dedup_incremental": 5,
    # ANN: the n_queries<=10 query side broadcasts onto a non-equi
    # (vec_id !=) probe — the documented brute-force/recall design
    "ann_bruteforce": 1, "ann_ivf": 2, "ann_recall": 8,
    "ann_recall_clustered": 8,
    # + the 1-row per-dimension min/max stats CROSS JOIN
    "ann_sq_rerank": 3,
    # store probe: 1-row SQ8 grid CROSS JOIN (code dequantization) +
    # the n_cells=16 centroid table cross-joined onto the <=10-query
    # batch for cell probing — both build sides bounded tiny
    "ann_against_store": 2,
    # identical probe plan against the CACHED persisted index
    "ann_store_probe": 2,
    # 1-row stored corpus-token-total CROSS JOINed onto the batch
    # token stream for the rarity ladder
    "curation_against_store": 1,
    # identical rarity-ladder CROSS JOIN in the probe-only split
    # entry (2% batch vs 98%-corpus store)
    "curation_store_probe": 1,
    # 1-row corpus-total / stage-summary relations
    "doc_surprisal": 1, "corpus_curation_materialized": 3,
    "dedup_pipeline_materialized": 2,
    # r13: the same 1-row corpus-token-total scalar, cross-joined on
    # BOTH sides of the sample/full split (Catalyst duplicates the
    # keyed subtree under the window)
    "ccnet_ppl_buckets": 2,
    # TPC-H scalar subqueries (1-row broadcast threshold)
    "q11_important_stock": 1, "q22_inactive_customer_balance": 1,
    # DSIR: the two 1-row smoothed-total scalars (raw + target)
    # cross-joined onto the <=1024-row bucket model; select (scores
    # localCheckpoint'ed) adds only the 1-row mean-cutoff scalar
    "dsir_importance": 2, "dsir_select": 1,
}

BAD_ALWAYS = ("CartesianProduct", "BatchEvalPython")

# Every Arrow-batched Python eval node Spark can plan: scalar Arrow
# UDFs, mapInPandas/mapInArrow, AND grouped applyInPandas (the r16
# fused group kernels plan as FlatMapGroupsInPandas — the original
# pattern missed it, so a fused entry silently dropped out of lint
# scope). Shared with tests/test_plan_lint.py's staleness check so
# detection and staleness can never disagree.
PY_EVAL_RE = (r"ArrowEvalPython|FlatMapGroupsInPandas"
              r"|MapInPandas|MapInArrow")


def lint_one(spark, Q, name: str) -> list[str]:
    df = Q.REGISTRY[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    problems = []
    for marker in BAD_ALWAYS:
        if marker in plan:
            problems.append(marker)
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    if n_bnlj and name not in TINY_CROSS_OK:
        problems.append("BroadcastNestedLoopJoin (not allowlisted)")
    elif n_bnlj > TINY_CROSS_OK.get(name, 0):
        problems.append(
            f"{n_bnlj} BroadcastNestedLoopJoin nodes "
            f"(allowlisted max {TINY_CROSS_OK[name]})")
    if re.search(PY_EVAL_RE, plan) and name not in PYTHON_KERNEL_OK:
        problems.append("Python eval node (not allowlisted)")
    return problems


def main(argv: list[str]) -> int:
    from pyspark.sql import SparkSession

    from harbourbridge_spark import queries as Q
    from harbourbridge_spark.confscope import apply_recommended

    spark = (apply_recommended(SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    names = argv or list(Q.REGISTRY)
    failures = {}
    for name in names:
        try:
            problems = lint_one(spark, Q, name)
        except Exception as e:          # noqa: BLE001 — report, don't die
            problems = [f"plan build failed: {e!r:.120}"]
        if problems:
            failures[name] = problems
            print(f"FAIL  {name}: {problems}")
        else:
            print(f"ok    {name}")
    print(f"\n{len(failures)} failures / {len(names)} entries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
