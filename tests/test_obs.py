"""The status-store ledger (harbourbridge_spark.obs) and the profiler's
checkpoint-segment capture (tools/profile_entries.py)."""

import subprocess
import sys

import pytest
from pyspark.sql.classic.dataframe import DataFrame

import tools.profile_entries as PE
from harbourbridge_spark import obs
from harbourbridge_spark import queries as Q
from tools.plan_lint import SF_DIR


def test_ledger_keys(spark):
    with obs.ledger(spark) as led:
        spark.range(100).selectExpr("id % 7 AS k").distinct().count()
    assert obs.KEYS == (
        "wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "gc_s", "exec_s", "driver_s")
    assert set(led) == set(obs.KEYS)


def test_ledger_jobs_match_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("test-obs-ledger", "ledger vs job group")
    try:
        with obs.ledger(spark) as led:
            (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
             .groupBy("l_returnflag").count().collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    group = sc.statusTracker().getJobIdsForGroup("test-obs-ledger")
    assert led["jobs"] == len(group) > 0
    assert led["stages"] >= 1 and led["tasks"] >= 1
    assert 0 <= led["exec_s"] <= led["wall_s"]
    assert led["driver_s"] == pytest.approx(
        led["wall_s"] - led["exec_s"], abs=2e-3)


def test_ledger_empty_when_block_raises(spark):
    with pytest.raises(RuntimeError):
        with obs.ledger(spark) as led:
            raise RuntimeError("boom")
    assert led == {}


def test_segments_of_dsir_importance(spark):
    with PE.checkpoint_segments(plans=True) as segs:
        Q.REGISTRY["dsir_importance"].fn(spark, SF_DIR).write.format(
            "noop").mode("overwrite").save()
    assert len(segs) >= 1
    for seg in segs:
        assert seg["site"].startswith("dsir.")
        assert seg["jobs"] >= 1
        assert "Physical Plan" in seg["plan"]
    assert any("MapInPandas" in seg["plan"] for seg in segs)


@pytest.mark.parametrize("raises", [False, True])
def test_capture_restores_checkpoint_methods(spark, raises):
    before = {n: vars(DataFrame)[n] for n in PE.CHECKPOINTS}

    def entry():
        spark.range(5).localCheckpoint().count()
        if raises:
            raise ValueError("entry failed")

    if raises:
        with pytest.raises(ValueError):
            with PE.checkpoint_segments() as segs:
                entry()
    else:
        with PE.checkpoint_segments() as segs:
            entry()
    assert len(segs) == 1
    for name, orig in before.items():
        assert vars(DataFrame)[name] is orig


def test_obs_off_the_migration_and_near_dup_path():
    """The library's product paths never import the ledger."""
    code = ("import sys; import harbourbridge_spark.cli, "
            "harbourbridge_spark.pipeline.dedup; "
            "print('harbourbridge_spark.obs' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "False"
