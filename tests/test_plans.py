"""Physical-plan assertions: the scale properties SCALE.md claims must
be visible in the plans Catalyst actually produces — column pruning,
filter pushdown to parquet, broadcast joins for dimensions, no
Python-UDF nodes in the migration path."""

import re

import pytest

from harbourbridge_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(spark, name) -> str:
    df = Q.REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name) -> str:
    df = Q.REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cast_projection_prunes_columns(spark):
    """The 7-column projection must not read all 11 lineitem columns."""
    plan = _plan(spark, "cast_projection_lineitem")
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    read_cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert read_cols == {"l_orderkey", "l_linenumber", "l_quantity",
                         "l_extendedprice", "l_returnflag", "l_shipdate"}


def test_q1_pushes_filter_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan
    # map-side combine: a partial aggregate feeds the exchange, which
    # shuffles only the tiny group key (tree prints top-down, so the
    # partial agg appears below/after the Exchange line)
    assert "partial_sum" in plan
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_q3_broadcasts_dimension(spark):
    plan = _plan(spark, "q3_segment_revenue")
    assert "BroadcastHashJoin" in plan
    # the selective customer filter reaches the scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_all_dims_broadcast(spark):
    plan = _plan(spark, "q5_region_revenue")
    # joins against region/nation/supplier/orders: all broadcast, no
    # sort-merge join anywhere
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_migration_path_has_no_python_udf(spark, tmp_path):
    """The cast/quarantine plan stays entirely JVM-side."""
    from harbourbridge_spark.sources import pgdump
    dump = tmp_path / "d.sql"
    dump.write_text("""
CREATE TABLE public.t (id integer NOT NULL, v numeric(10,2), w text[]);
COPY public.t (id, v, w) FROM stdin;
1	2.5	{a,b}
\\.
ALTER TABLE ONLY public.t ADD CONSTRAINT t_pkey PRIMARY KEY (id);
""")
    ctx, results = pgdump.migrate_pg_dump(spark, str(dump),
                                          str(tmp_path / "staging"))
    plan = results["t"].good._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # whole-stage codegen stages are marked with "*(n)" in plan text
    assert "*(" in plan


def test_dedup_exact_shuffles_hashes_not_text(spark):
    """The dedup groupBy key is the 48-bit hash, so the exchange must
    not carry the text column."""
    plan = _plan(spark, "dedup_exact")
    shuffles = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert shuffles, plan
    assert all("text#" not in l for l in shuffles)


def test_ann_lsh_is_equijoin_not_cross(spark):
    plan = _plan(spark, "ann_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_is_equijoin_not_cross(spark):
    """The pigeonhole slice blocking must compile to an equi-join on
    (slice_index, slice_value) — never an all-pairs scan."""
    plan = _plan(spark, "dedup_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_write_enables_pruning(spark, tmp_path):
    """Writing with partition_by gives downstream partition pruning
    (PartitionFilters at the scan, not a full-table read)."""
    import pyspark.sql.functions as F
    from harbourbridge_spark import schema_ir as ir
    from harbourbridge_spark import types as tt
    from harbourbridge_spark.context import MigrationContext
    from harbourbridge_spark.sink import write_table
    from harbourbridge_spark.toddl import schema_to_ddl

    ctx = MigrationContext()
    ctx.src_schema["li"] = ir.SourceTable(
        name="li", col_names=["id", "m", "v"],
        col_defs={
            "id": ir.SourceColumn("id", tt.SourceType("int8"), not_null=True),
            "m": ir.SourceColumn("m", tt.SourceType("int4"), not_null=True),
            "v": ir.SourceColumn("v", tt.SourceType("float8")),
        },
        primary_keys=[ir.Key("id")])
    schema_to_ddl(ctx, "postgres")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 12).cast("int").alias("m"),
        F.rand(42).alias("v"))
    path = str(tmp_path / "li.parquet")
    write_table(ctx, df, "li", path, partition_by=["m"])
    back = spark.read.parquet(path).where(F.col("m") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(m" in plan
    assert back.count() == 1000 // 12 + (1 if 3 < 1000 % 12 else 0)


def test_lsh_verified_no_block_selfjoin(spark):
    """The verify stage forms and verifies pairs inside the band
    buckets (one MapInPandas over the bucket exchange): no join of any
    kind, so never a within-block documents self-join and never a
    cartesian pair-forming term."""
    plan = _plan(spark, "dedup_lsh_verified")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan
    opt = _optimized(spark, "dedup_lsh_verified")
    # no join keyed on (lang, len_bucket) blocking anywhere
    assert "len_bucket" not in opt


def test_embedding_lsh_is_equijoin(spark):
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_dimension_chains_broadcast(spark):
    """Both nation dimension chains broadcast; the only sort-merge
    join allowed is fact-to-orders (both large)."""
    plan = _plan(spark, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q10_filter_pushed_and_rank_bounded(spark):
    plan = _plan(spark, "q10_returned_items")
    # the returnflag filter reaches the parquet scan
    assert "EqualTo(l_returnflag,R)" in plan
    # global rank is a single window after aggregation, no self-join
    assert "Window" in plan


def test_q19_bracket_pushes_per_side_conjuncts(spark):
    """OR-of-ANDs: the disjunction of part-side conjuncts should still
    reach the part scan as a pushed filter (Or(...)), and the
    lineitem side gets its own Or() pushdown."""
    plan = _plan(spark, "q19_bracket_revenue")
    assert plan.count("PushedFilters: [") >= 2
    assert "Or(" in plan


def test_event_funnel_bucketed_join_key(spark):
    """The funnel join's equi-key must include the 30-min time bucket,
    not just user_id — the skew guard that keeps a bot-grade power
    user from forming one quadratic join key."""
    plan = _plan(spark, "event_funnel")
    # the equi-join keys are [a_user, bkt] / [b_user, bkt] whatever the
    # physical strategy (broadcast at test SF, sort-merge at scale)
    m = re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) "
                  r"\[([^\]]*)\], \[([^\]]*)\]", plan)
    assert m, plan
    assert "a_user" in m.group(2) and "bkt" in m.group(2), m.group(0)
    assert "b_user" in m.group(3) and "bkt" in m.group(3), m.group(0)


def test_event_funnel_bucketed_matches_bruteforce(spark):
    """Bucketed pairing is exactly the unbucketed semantics, including
    pairs that straddle a bucket boundary, and a user's events in
    disjoint windows never meet on one key."""
    from harbourbridge_spark.queries import event_funnel_bucketed

    rows = []
    # user 1: click at 100, purchases at 150 (in), 1900 (in, next
    # bucket), 1901 (out: > 100+1800), plus click at 1850 pairing 1900/1901
    for et, sec in [("click", 100), ("purchase", 150), ("purchase", 1900),
                    ("purchase", 1901), ("click", 1850)]:
        rows.append((1, et, sec * 1_000_000_000))
    # user 2: boundary-exact pair (delta == window) and far-apart events
    rows += [(2, "click", 0), (2, "purchase", 1800 * 1_000_000_000),
             (2, "purchase", 999_999 * 1_000_000_000)]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    got = {r.user_id: r for r in event_funnel_bucketed(ev).collect()}

    # brute force in python
    import itertools
    want = {}
    by_user = {}
    for u, et, ts in rows:
        by_user.setdefault(u, []).append((et, ts // 1_000_000_000))
    for u, evs in by_user.items():
        deltas = [b - a for (ea, a), (eb, b) in itertools.product(evs, evs)
                  if ea == "click" and eb == "purchase" and 0 < b - a <= 1800]
        if deltas:
            want[u] = (len(deltas), min(deltas), max(deltas))
    assert {u: (r.n_pairs, r.min_delay_s, r.max_delay_s)
            for u, r in got.items()} == want


def test_q21_semi_anti_join_strategy(spark):
    """The EXISTS/NOT-EXISTS correlation must compile to LeftSemi and
    LeftAnti joins on the order key, never a cartesian product."""
    plan = _plan(spark, "q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" \
        not in plan.replace("BroadcastNestedLoopJoin BuildRight, LeftSemi",
                            "")


def test_q11_scalar_subquery_broadcast(spark):
    """The global-total threshold is a 1-row broadcast join, not a
    collected driver value or a shuffled join."""
    plan = _plan(spark, "q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q8_dims_broadcast_single_fact_pass(spark):
    plan = _plan(spark, "q8_market_share")
    # supplier-nation chain and region-filtered customer side broadcast;
    # lineitem is scanned exactly once
    assert plan.count("FileScan parquet") >= 5
    assert len(re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)) == 1


def test_quality_classifier_single_stage_no_shuffle(spark):
    """The hashed classifier must be a pure projection: no Exchange,
    no Generate (explode), no Python-UDF node — one codegen scan."""
    plan = _plan(spark, "quality_classifier")
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FileScan parquet" in plan


def test_winnow_pairs_equijoin_and_checkpoint(spark):
    """The winnow pair join must be a hash equi-join on the
    fingerprint (never a cartesian), reading the CHECKPOINTED capped
    relation (not re-deriving the token pipeline per consumer)."""
    plan = _plan(spark, "dedup_winnow_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" \
        not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
                     plan), plan
    # the three consumers read the checkpointed RDD, so the final plan
    # contains NO parquet scan of documents and no explode
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan


def test_source_stats_shuffles_hash_not_text(spark):
    """corpus_source_stats: the duplicate-attribution window shuffles
    the 8-byte content hash, and the final aggregate has a map-side
    partial; the text column never crosses an exchange."""
    plan = _plan(spark, "corpus_source_stats")
    assert re.search(r"Exchange hashpartitioning\(fp#", plan), plan
    assert "partial_count" in plan or "partial_sum" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)


def test_mixture_sample_broadcasts_thresholds(spark):
    """Temperature mixing must cost ONE corpus scan: the per-source
    threshold relation (a handful of rows) broadcasts back onto the
    fact side, and the only Exchanges belong to the tiny counts
    aggregation — the documents relation itself is never hash-
    repartitioned (no Exchange hashpartitioning on doc-bearing
    width), and no sort or window appears anywhere."""
    plan = _plan(spark, "mixture_sample_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan and "Sort" not in plan.replace(
        "SortAggregate", "")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
