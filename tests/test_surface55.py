"""Batch GB pins — ICT-addressed CDF: uniform-mtime precondition,
endpoint resolution, between-commit timestamps, and pre-history
refusal."""

from __future__ import annotations

import os

import pytest

from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _commit_ict_ms,
    delta_version_at_timestamp,
)
from sap_cta_data_pipeline_spark.operators.surface55 import (
    _STEP_MS,
    _T0_MS,
    _build_cdf_ict_fixture,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark, tmp_path):
    base = str(tmp_path / "cdf_ict")
    _build_cdf_ict_fixture(spark, SF, base)
    return base


def test_uniform_mtimes_and_monotonic_ict(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    log_dir = os.path.join(base, "_delta_log")
    mts = {
        os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json"))
        for v in range(3)
    }
    assert len(mts) == 1
    icts = [_commit_ict_ms(log_dir, v) for v in range(3)]
    assert icts == [_T0_MS, _T0_MS + _STEP_MS, _T0_MS + 2 * _STEP_MS]


def test_between_commit_timestamps_resolve_down(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    assert delta_version_at_timestamp(spark, base, (_T0_MS + _STEP_MS // 2) / 1000) == 0
    assert delta_version_at_timestamp(spark, base, (_T0_MS + _STEP_MS) / 1000) == 1
    assert (
        delta_version_at_timestamp(spark, base, (_T0_MS + 3 * _STEP_MS) / 1000) == 2
    )


def test_pre_history_refuses(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="before the first ICT|before the ICT"):
        delta_version_at_timestamp(spark, base, (_T0_MS - 1000) / 1000)


def test_cdf_window_rows(spark, tmp_path):
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        delta_table_changes,
    )

    base = _fixture(spark, tmp_path)
    rows = delta_table_changes(spark, base, 1, 2).collect()
    kinds = sorted({(r._commit_version, r._change_type) for r in rows})
    assert kinds == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "delete"),
    ]
    assert len(rows) == 15
