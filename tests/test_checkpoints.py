"""free_local_checkpoint reports whether it released a checkpoint."""

from __future__ import annotations

from geo_spark.plans.checkpoints import free_local_checkpoint


def test_free_local_checkpoint_reports_release(spark):
    jsc = spark.sparkContext._jsc.sc()
    ck = spark.range(100).localCheckpoint()
    before = jsc.getPersistentRDDs().size()
    assert free_local_checkpoint(ck) is True
    assert jsc.getPersistentRDDs().size() == before - 1
    assert free_local_checkpoint(spark.range(3)) is False
    assert free_local_checkpoint(None) is False
