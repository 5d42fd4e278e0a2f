#!/usr/bin/env python
"""Segment-level plan dumps (r17, VERDICT r16 item 8): the entry-level
dump tool (dump_plans.py) prints the FINAL DataFrame's plan, which for
checkpoint-heavy chains is truncated to `Scan ExistingRDD` on both
sides of every materialization — it cannot witness a kernel swap or a
join reshape that lives UPSTREAM of a checkpoint.  This tool dumps the
plan of each chain SEGMENT as built, before its checkpoint, so the
ArrowEvalPython / MapInPandas / Window / join-strategy deltas are
visible.  Output: plans/r17/<segment>_<tag>.txt.

Usage: python tools/dump_segments.py
Env:   PLANS_SF_DIR (default /root/testdata/sf0.1)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from harbourbridge_spark.confscope import (  # noqa: E402
    apply_recommended, scoped_parser_mode)

SF = os.environ.get("PLANS_SF_DIR", "/root/testdata/sf0.1")
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(HERE, "plans", "r17")


def dump(name: str, df) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{name}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} bytes)")


def main() -> int:
    spark = (apply_recommended(SparkSession.builder
             .master("local[32]")
             .appName("segment-dump")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled",
                     "true")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import harbourbridge_spark.pipeline.dedup as D
    import harbourbridge_spark.pipeline.multimodal as M
    from harbourbridge_spark.scan import read_cached, read_spread

    # --- 1. MinHash signature kernel segment (r16 swap, evidence gap):
    # the ArrowEvalPython node over the spread documents scan, exactly
    # what the checkpoint hid in plans/r16.
    docs = read_spread(spark, f"{SF}/documents.parquet")
    dump("minhash_signature_kernel_segment",
         D.vectorized_signature_df(docs, materialize=False))

    # --- 2. Band candidate stage over the checkpointed signature (the
    # one window band template both engines run).
    D.vectorized_signature_view(spark, SF, "__mh_sig_dump")
    with scoped_parser_mode(spark, "true"):
        cand_plan = spark.sql(D.minhash_bands_sql("spark", "__mh_sig_dump"))
        dump("band_candidates_window", cand_plan)

        # --- 3. Verify segment over checkpointed cand + grams.
        pairs = cand_plan.localCheckpoint()
        pairs.createOrReplaceTempView("__mh_cand_dump")
        gram_udf = D._text_udf(lambda: D._gram_set_kernel({}),
                               "array<bigint>")

        ids = (pairs.select(F.col("doc_a").alias("doc_id"))
               .union(pairs.select(F.col("doc_b").alias("doc_id")))
               .distinct())
        gdocs = (read_cached(spark, f"{SF}/documents.parquet")
                 .join(ids, "doc_id")
                 .select("doc_id", F.trim(F.lower("text")).alias("nt"))
                 .repartition(spark.sparkContext.defaultParallelism))
        grams_plan = gdocs.select("doc_id",
                                  gram_udf("nt").alias("grams"))
        dump("gram_kernel_segment", grams_plan)
        grams = grams_plan.localCheckpoint()
        grams.createOrReplaceTempView("__mh_grams_dump")
        dump("verify_segment_kept", spark.sql(D.lsh_verify_sql(
            "spark", "__mh_cand_dump", gram_source="__mh_grams_dump")))

        # --- 4. Label propagation cycle 1: r16 shape (identity labels
        # + prop(prop)) vs r17 (first step fused into one edge
        # aggregation) over the same checkpointed pairs.
        p2 = spark.sql(D.lsh_verify_sql(
            "spark", "__mh_cand_dump",
            gram_source="__mh_grams_dump")) \
            .select("doc_a", "doc_b").localCheckpoint()
        edges = p2.selectExpr(
            "inline(array(struct(doc_a, doc_b), "
            "struct(doc_b AS doc_a, doc_a AS doc_b)))")

        def prop(lab):
            nbr = (edges.join(lab, edges.doc_a == lab.doc)
                   .groupBy(F.col("doc_b").alias("doc"))
                   .agg(F.min("label").alias("nl")))
            return (lab.join(nbr, "doc", "left")
                    .select("doc",
                            F.least("label", F.coalesce("nl", "label"))
                            .alias("label"),
                            (F.col("nl") < F.col("label")).alias("chg")))

        nodes = edges.select(F.col("doc_a").alias("doc")).distinct()
        labels0 = nodes.select("doc", F.col("doc").alias("label"))
        dump("labelprop_cycle1_before",
             prop(prop(labels0).select("doc", "label")))
        first = (edges.groupBy(F.col("doc_b").alias("doc"))
                 .agg(F.min("doc_a").alias("nl"))
                 .select("doc", F.least("doc", "nl").alias("label"),
                         (F.col("nl") < F.col("doc")).alias("chg")))
        dump("labelprop_cycle1_after",
             prop(first.select("doc", "label")))

    # --- 5. SimHash signature kernel segment (item 7): ArrowEvalPython
    # (the signature was already a pandas_udf before r17; this round
    # added the per-task memo + iterator form, same node type).
    dump("simhash_signature_kernel_segment",
         D.simhash_signature_view(spark, SF, "__sh_sig_dump"))

    # --- 6. phash store probe: r16 shape (small_keys DISTINCT + extra
    # broadcast + members⋈inc join) vs r17 (store scan ⋈ broadcast hit
    # rows), over the same store + batch hashes, WITHOUT the final
    # checkpoint so the whole probe plan is visible.
    from harbourbridge_spark.pipeline.storecache import fixture_store
    src = f"{SF}/documents.parquet"
    store = fixture_store("phash", src, M.PHASH_INC_MOD, M.PHASH_INC_RES,
                          "v2")
    dcs = read_cached(spark, src)

    def hashes_for(pred: str):
        ids = dcs.where(pred).selectExpr(
            f"explode(sequence(doc_id * {M.PHASH_VARIANTS}, "
            f"doc_id * {M.PHASH_VARIANTS} + {M.PHASH_VARIANTS - 1})) "
            "AS media_id")
        return M.synth_phash_hashes(ids)

    M._publish_hashes(store, lambda: hashes_for(
        f"doc_id % {M.PHASH_INC_MOD} < {M.PHASH_INC_RES}"))
    batch_ph = hashes_for(
        f"doc_id % {M.PHASH_INC_MOD} >= {M.PHASH_INC_RES}") \
        .localCheckpoint()
    from harbourbridge_spark.pipeline.dedup import MAX_BUCKET
    from harbourbridge_spark.scan import read_store
    hamming_k = 3
    buckets = (read_store(spark, f"{store}/buckets_k{hamming_k}")
               .groupBy("b", "slice")
               .agg(F.sum("n").alias("n"), F.min("rep").alias("rep"),
                    F.expr("min_by(rep_ph, rep)").alias("rep_ph")))
    distinct_ph = batch_ph.select(
        F.col("phash").alias("media_id"), "phash").distinct()
    inc = M._phash_sliced(distinct_ph, hamming_k)
    hit = buckets.join(F.broadcast(inc), on=["b", "slice"])
    cand_star = (hit.filter(F.col("n") > MAX_BUCKET)
                 .select("media_id", F.col("phash").alias("ph_i"),
                         F.col("rep").alias("dup"),
                         F.col("rep_ph").alias("ph_e")))
    store_ph = read_store(spark, f"{store}/hashes")
    # BEFORE (r16 shape, reconstructed)
    small_keys = (hit.filter(F.col("n") <= MAX_BUCKET)
                  .select("b", "slice").distinct())
    small_members = M._phash_sliced(store_ph, hamming_k).join(
        F.broadcast(small_keys), on=["b", "slice"])
    cand_small_b = (small_members.alias("e").join(
        F.broadcast(inc.alias("i")), on=["b", "slice"])
        .select(F.col("i.media_id").alias("media_id"),
                F.col("i.phash").alias("ph_i"),
                F.col("e.media_id").alias("dup"),
                F.col("e.phash").alias("ph_e")))

    def verdicts_of(cand_small):
        cand = cand_small.unionByName(cand_star)
        hv = (cand.filter(
            F.expr(f"bit_count(ph_i ^ ph_e) <= {hamming_k}"))
            .groupBy("ph_i").agg(F.min("dup").alias("dup_of")))
        return (batch_ph.join(hv, batch_ph["phash"] == hv["ph_i"])
                .select("media_id", "dup_of"))

    dump("phash_probe_before", verdicts_of(cand_small_b))
    # AFTER (r17 shape)
    hit_small = (hit.filter(F.col("n") <= MAX_BUCKET)
                 .select("b", "slice", "media_id", "phash"))
    cand_small_a = (M._phash_sliced(store_ph, hamming_k).alias("e")
                    .join(F.broadcast(hit_small.alias("i")),
                          on=["b", "slice"])
                    .select(F.col("i.media_id").alias("media_id"),
                            F.col("i.phash").alias("ph_i"),
                            F.col("e.media_id").alias("dup"),
                            F.col("e.phash").alias("ph_e")))
    dump("phash_probe_after", verdicts_of(cand_small_a))

    # --- 7. Fused media kernel (r16 swap, evidence gap): ONE
    # MapInPandas emitting (media_id, phash) vs the unfused
    # synth→kernel chain's TWO chained MapInPandas with the binary
    # content column between them.
    ids = dcs.selectExpr(
        f"explode(sequence(doc_id * {M.PHASH_VARIANTS}, "
        f"doc_id * {M.PHASH_VARIANTS} + {M.PHASH_VARIANTS - 1})) "
        "AS media_id").limit(600)
    dump("media_synth_hash_fused_after", M.synth_phash_hashes(ids))
    media = M.synth_media(ids, "image", fmt="phash")
    # defeat the fusion marker with a no-op transformation so the
    # unfused two-stage plan is what gets dumped
    dump("media_synth_hash_unfused_before",
         M._phash_df(media.select("media_id", "kind", "content",
                                  "meta")))

    # --- 8. DSIR kernel segment (r16 swap, evidence gap): the fused
    # mapInPandas gram kernel emitting (doc_id, lang, b, c).
    import harbourbridge_spark.pipeline.dsir as DS
    dump("dsir_scored_segment", DS._scored_df(spark, SF))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
