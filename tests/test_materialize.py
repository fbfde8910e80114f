"""The round-11 materialization chokepoint: both policy forms must be
value-neutral (they change where the plan is cut, never what a consumer
computes), the env dial must fail loudly on junk, and both q_psi_drift
gate forms must agree. The thresholds themselves are pinned in
tests/test_scale_policy.py."""

from __future__ import annotations

import dataclasses

import pytest

from assignment_2_dataengineering_spark.operators.materialize import materialize
from assignment_2_dataengineering_spark.operators.scale_policy import RULES


def _base(spark):
    return spark.range(100).selectExpr("id", "id % 7 AS k")


def test_local_checkpoint_and_disk_persist_are_value_identical(
    spark, monkeypatch
):
    expected = sorted(map(tuple, _base(spark).collect()))
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    lc = materialize(_base(spark))
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "disk_persist")
    dp = materialize(_base(spark))
    try:
        assert sorted(map(tuple, lc.collect())) == expected
        assert sorted(map(tuple, dp.collect())) == expected
        # downstream consumers see the same aggregates through either cut
        assert (
            lc.groupBy("k").count().collect()
            == dp.groupBy("k").count().collect()
        )
    finally:
        dp.unpersist()


def test_unknown_mode_fails_loudly(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "replicated_checkpoint")
    with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
        materialize(_base(spark))


def test_per_site_prefer_beats_auto_but_not_env(spark, monkeypatch):
    from pyspark.sql import DataFrame

    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    # prefer pins the form regardless of the selector...
    lc = materialize(_base(spark), prefer="local_checkpoint")
    assert lc.storageLevel.useMemory is False and not lc.storageLevel.useDisk
    # ...but the explicit env override still wins over prefer
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "disk_persist")
    dp = materialize(_base(spark), prefer="local_checkpoint")
    try:
        assert dp.storageLevel.useDisk and not dp.storageLevel.useMemory
        assert isinstance(dp, DataFrame)
    finally:
        dp.unpersist()


def test_psi_both_gate_forms_value_identical(spark, sf_dir, monkeypatch):
    """The q_psi_drift tier gate changes the plan only: forcing the
    materialized form at the lazy tier must produce exactly the lazy
    form's rows (the r10 exact-match A/B, pinned as a boundary test)."""
    from assignment_2_dataengineering_spark.plans.registry import get_spec

    spec = get_spec("q_psi_drift")
    lazy = spec.fn(spark, sf_dir).collect()
    monkeypatch.setitem(
        RULES,
        "psi_materialize",
        dataclasses.replace(RULES["psi_materialize"], threshold=0),
    )
    mat = spec.fn(spark, sf_dir).collect()
    assert sorted(map(tuple, lazy)) == sorted(map(tuple, mat))
