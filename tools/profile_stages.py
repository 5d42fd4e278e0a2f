#!/usr/bin/env python
"""Ad-hoc stage profiler for the optimization round: time labelled
sub-stages of the expensive registry entries with the noop sink
(guide §1.4/§1.5).  Not part of CI; numbers land in
OPTIMIZATION_r16.md.

Usage: python tools/profile_stages.py <probe> [probe ...]
Probes: phash, afp, thash, lsh, clusters, semdedup, incremental
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from harbourbridge_spark import queries as Q  # noqa: E402
from harbourbridge_spark.confscope import apply_recommended  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def t(label, fn):
    t0 = time.time()
    out = fn()
    print(f"  {label:42s} {time.time() - t0:6.3f}s")
    return out


def probe_phash(spark):
    from pyspark.sql import functions as F
    from harbourbridge_spark.pipeline.multimodal import (
        _hash64_cluster, _phash_df, synth_media)
    ids = Q.load(spark, SF, "documents").selectExpr(
        "explode(sequence(doc_id * 6, doc_id * 6 + 5)) AS media_id")
    media = synth_media(ids, "image", fmt="phash")
    print("phash_dedup stages:")
    t("synth only (noop)", lambda: noop(media.select("media_id")))
    ph = _phash_df(media)
    t("synth+hash (noop)", lambda: noop(ph))
    ph2 = t("synth+hash localCheckpoint", lambda: _phash_df(media).localCheckpoint())
    t("cluster after checkpoint (noop)",
      lambda: noop(_hash64_cluster(ph2.sparkSession.createDataFrame(
          ph2.rdd, ph2.schema) if False else ph2, 3)))
    t("full entry (noop)",
      lambda: noop(Q.REGISTRY["multimodal_phash_dedup"].fn(spark, SF)))


def probe_afp(spark):
    from harbourbridge_spark.pipeline.multimodal import (
        _afp_df, _hash64_cluster, synth_media)
    ids = Q.load(spark, SF, "documents").selectExpr(
        "explode(sequence(doc_id * 5, doc_id * 5 + 4)) AS media_id")
    media = synth_media(ids, "audio", fmt="afp")
    print("audio_fp_dedup stages:")
    t("synth only (noop)", lambda: noop(media.select("media_id")))
    ph = t("synth+hash localCheckpoint", lambda: _afp_df(media).localCheckpoint())
    t("cluster after checkpoint (noop)", lambda: noop(_hash64_cluster(ph, 3)))
    t("full entry (noop)",
      lambda: noop(Q.REGISTRY["multimodal_audio_fp_dedup"].fn(spark, SF)))


def probe_thash(spark):
    from harbourbridge_spark.pipeline.multimodal import (
        _thash_df, synth_media, THASH_VARIANTS)
    ids = Q.load(spark, SF, "documents").selectExpr(
        f"explode(sequence(doc_id * {THASH_VARIANTS}, "
        f"doc_id * {THASH_VARIANTS} + {THASH_VARIANTS - 1})) AS media_id")
    media = synth_media(ids, "video", fmt="thash")
    print("video_thash_dedup stages:")
    t("synth only (noop)", lambda: noop(media.select("media_id")))
    t("synth+hash (noop)", lambda: noop(_thash_df(media)))
    t("full entry (noop)",
      lambda: noop(Q.REGISTRY["multimodal_video_thash_dedup"].fn(spark, SF)))


def probe_lsh(spark):
    from harbourbridge_spark.pipeline.dedup import (
        minhash_bands_sql, minhash_signature_sql,
        vectorized_signature_view)
    from harbourbridge_spark.confscope import scoped_parser_mode
    print("dedup_minhash_lsh stages:")
    with scoped_parser_mode(spark, "true"):
        spark.read.parquet(f"{SF}/documents.parquet") \
            .createOrReplaceTempView("documents")
        t("HOF signature (noop)",
          lambda: noop(spark.sql(minhash_signature_sql("spark"))))
        sig = t("HOF signature checkpoint",
                lambda: spark.sql(
                    minhash_signature_sql("spark")).localCheckpoint())
        sig.createOrReplaceTempView("__prof_sig")
        t("bands join off checkpoint (noop)",
          lambda: noop(spark.sql(minhash_bands_sql("spark", "__prof_sig"))))
    t("vectorized sig view (checkpoint)",
      lambda: vectorized_signature_view(spark, SF, "__prof_vsig"))
    t("full dedup_minhash_lsh (noop)",
      lambda: noop(Q.REGISTRY["dedup_minhash_lsh"].fn(spark, SF)))
    t("full dedup_minhash_lsh_fast (noop)",
      lambda: noop(Q.REGISTRY["dedup_minhash_lsh_fast"].fn(spark, SF)))


def probe_clusters(spark):
    from harbourbridge_spark.pipeline.dedup import (
        dedup_clusters_fn, lsh_verified_pairs_fn)
    print("dedup_clusters stages:")
    pairs = t("lsh_verified_pairs (checkpoint chain)",
              lambda: lsh_verified_pairs_fn(spark, SF)
              .select("doc_a", "doc_b").localCheckpoint())
    t("label propagation given pairs",
      lambda: noop(dedup_clusters_fn(spark, SF, pairs=pairs)))
    t("full dedup_clusters (noop)",
      lambda: noop(Q.REGISTRY["dedup_clusters"].fn(spark, SF)))


def probe_semdedup(spark):
    from harbourbridge_spark.pipeline.similarity import (
        _kmeans_ctes, semdedup_fn)
    from harbourbridge_spark.confscope import scoped_parser_mode
    print("dedup_semdedup stages:")
    with scoped_parser_mode(spark, "true"):
        spark.read.parquet(f"{SF}/embeddings.parquet") \
            .createOrReplaceTempView("embeddings")
        body, last_assign, _ = _kmeans_ctes("spark", 8, 2, 64)
        t("kmeans assignments (noop)",
          lambda: noop(spark.sql(
              f"WITH {body} SELECT vec_id, cluster FROM {last_assign}")))
    t("full dedup_semdedup (noop)",
      lambda: noop(Q.REGISTRY["dedup_semdedup"].fn(spark, SF)))


def probe_incremental(spark):
    print("dedup_incremental:")
    t("full dedup_incremental (noop)",
      lambda: noop(Q.REGISTRY["dedup_incremental"].fn(spark, SF)))
    t("full dedup_incremental_against_store (noop)",
      lambda: noop(Q.REGISTRY["dedup_incremental_against_store"]
                   .fn(spark, SF)))


PROBES = {
    "phash": probe_phash,
    "afp": probe_afp,
    "thash": probe_thash,
    "lsh": probe_lsh,
    "clusters": probe_clusters,
    "semdedup": probe_semdedup,
    "incremental": probe_incremental,
}


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (apply_recommended(SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("stage-profile")
             .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up
    Q.REGISTRY["q1_pricing_summary"].fn(spark, SF).write.format(
        "noop").mode("overwrite").save()
    for name in sys.argv[1:]:
        spark.sparkContext.setJobDescription(f"profile: {name}")
        PROBES[name](spark)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
