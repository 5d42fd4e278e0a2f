"""Bench coverage is a decision, not an accident (VERDICT r10 ask 7).

The bench list is derived as REGISTRY minus an explicit exclusion set;
these tests pin that the exclusion set and the benched set partition
the registry EXACTLY, and that every exclusion is one of the two
documented kinds (frozen literal-frame golden tables, or capped
quadratic guard twins whose linear-scale twin IS benched).
"""

import bench

from harbourbridge_spark import queries as Q


def test_exclusions_partition_registry_exactly():
    benched = set(bench.BENCH_QUERIES)
    excluded = set(bench.BENCH_EXCLUDE)
    assert benched | excluded == set(Q.REGISTRY)
    assert not benched & excluded
    # no stale exclusion naming an entry that no longer exists
    assert excluded <= set(Q.REGISTRY)


def test_every_quadratic_guard_exclusion_has_a_benched_scale_twin():
    # the documented twin map: quadratic guard variant -> linear twin
    twins = {
        "dedup_ngram_jaccard": "dedup_lsh_verified",
        "dedup_embedding_cosine": "dedup_embedding_lsh",
    }
    benched = set(bench.BENCH_QUERIES)
    for guard, twin in twins.items():
        assert guard in bench.BENCH_EXCLUDE
        assert twin in benched, f"scale twin {twin} of {guard} not benched"


def test_no_silent_registry_growth_outside_the_partition():
    # a newly registered operator is benched automatically unless a
    # human adds it to BENCH_EXCLUDE with a reason — i.e. the benched
    # count tracks the registry size minus the fixed exclusion count
    assert len(bench.BENCH_QUERIES) == len(Q.REGISTRY) - len(
        bench.BENCH_EXCLUDE)


def test_reduced_core_detail_file_follows_the_main_sweep(tmp_path):
    """A run at an explicit core count files its detail under the round
    of the newest plain detail file; the main sweep keeps newest
    BENCH_rNN.json + 1 and the plain name."""
    name = bench.detail_file_name
    assert name(tmp_path, "8", False) == "BENCH_r00_detail.json"
    assert name(tmp_path, "8", True) == "BENCH_r00_c8_detail.json"
    for f in ("BENCH_r17.json", "BENCH_r17_c8.json",
              "BENCH_r17_detail.json", "BENCH_r18_c8_detail.json"):
        (tmp_path / f).write_text("{}")
    # round 18's main sweep has not run: an 8-core rerun sits by r17's
    assert name(tmp_path, "8", True) == "BENCH_r17_c8_detail.json"
    assert name(tmp_path, "32", False) == "BENCH_r18_detail.json"
    (tmp_path / "BENCH_r18_detail.json").write_text("{}")
    assert name(tmp_path, "8", True) == "BENCH_r18_c8_detail.json"
    assert name(tmp_path, "32", False) == "BENCH_r18_detail.json"
