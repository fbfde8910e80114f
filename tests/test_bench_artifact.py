"""bench.py's artifact routing: only a binding run at the ledger's
scale (sf0.1) may write BENCH_LOCAL_latest.json, so a smoke run at
another scale cannot overwrite the binding numbers."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize(
    "binding, sf, want",
    [
        ("1", 0.1, "BENCH_LOCAL_latest.json"),
        ("1", 0.001, "BENCH_LOCAL_driver_run.json"),
        ("1", 1.0, "BENCH_LOCAL_driver_run.json"),
        (None, 0.1, "BENCH_LOCAL_driver_run.json"),
        ("0", 0.1, "BENCH_LOCAL_driver_run.json"),
    ],
)
def test_only_binding_ledger_scale_run_writes_latest(monkeypatch, binding, sf, want):
    if binding is None:
        monkeypatch.delenv("SPARK_GRAFT_BINDING", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_BINDING", binding)
    assert bench._artifact_name(sf) == want
