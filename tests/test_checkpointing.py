"""The materialization switch (checkpointing.materialize) and the pair_id
injectivity guard — both behaviors pinned, since each is a one-conf
production knob whose wrong default would only surface at cluster scale."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wfc3_cte_monitor_spark.checkpointing import DIR_CONF, RELIABLE_CONF, materialize

SF = "/root/testdata/sf0.001"


def test_materialize_default_is_local_checkpoint(spark):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out = materialize(df)
    # a (lazy) localCheckpoint re-roots the plan at an RDD scan — the
    # lineage-truncation property every diamond-reuse site relies on
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == 10


def test_materialize_reliable_writes_checkpoint_dir(spark, tmp_path):
    ckdir = str(tmp_path / "reliable_ckpt")
    spark.conf.set(RELIABLE_CONF, "true")
    spark.conf.set(DIR_CONF, ckdir)
    try:
        df = spark.range(25).withColumn("v", F.col("id") + 1)
        out = materialize(df, eager=True)
        assert out.count() == 25
        # reliable mode must place blocks in the configured directory
        # (survivable storage stand-in), not executor-local block store
        found = [
            os.path.join(r, f)
            for r, _d, files in os.walk(ckdir)
            for f in files
        ]
        assert found, "reliable checkpoint wrote nothing under the checkpoint dir"
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def test_materialize_reliable_lazy_roundtrip(spark, tmp_path):
    # lazy + reliable: same rows, checkpoint deferred to first action
    spark.conf.set(RELIABLE_CONF, "true")
    spark.conf.set(DIR_CONF, str(tmp_path / "lazy_ckpt"))
    try:
        df = spark.range(7)
        out = materialize(df)
        assert sorted(r["id"] for r in out.collect()) == list(range(7))
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def test_assert_pair_id_unique_raises_on_collision(spark):
    from wfc3_cte_monitor_spark.plans.pipeline import assert_pair_id_unique

    collided = spark.createDataFrame(
        [("t", "a1", "a2", 11), ("t", "b1", "b2", 11), ("t", "c1", "c2", 12)],
        "targname string, imagename_1 string, imagename_2 string, pair_id bigint",
    )
    with pytest.raises(ValueError, match="pair_id surrogate collided"):
        assert_pair_id_unique(collided)

    ok = spark.createDataFrame(
        [("t", "a1", "a2", 11), ("t", "b1", "b2", 12)],
        "targname string, imagename_1 string, imagename_2 string, pair_id bigint",
    )
    assert_pair_id_unique(ok)  # must not raise


def test_injectivity_guard_runs_on_gated_path(spark):
    # session.prepare (the driver-contract entry) turns the guard on; the
    # real analog corpus must PASS it — and the conf must actually reach
    # _keyed_pairs (exercised end-to-end via compute_results).
    from wfc3_cte_monitor_spark.plans.domain_queries import analog_fileinfo, analog_phot
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results
    from wfc3_cte_monitor_spark.session import RUNTIME_CONF

    assert RUNTIME_CONF["spark.wfc3.pipeline.assertPairIdUnique"] == "true"
    spark.conf.set("spark.wfc3.pipeline.assertPairIdUnique", "true")
    try:
        fi = analog_fileinfo(spark, SF)
        ph = analog_phot(spark, SF)
        assert compute_results(fi, ph, aperture=3).count() > 0
    finally:
        spark.conf.set("spark.wfc3.pipeline.assertPairIdUnique", "false")

