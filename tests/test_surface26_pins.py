"""Batch EF pins — SetTransaction skip/replay semantics and Iceberg
named-ref resolution."""

from __future__ import annotations

import os

import pytest

from sap_cta_data_pipeline_spark.operators.surface26 import (
    delta_last_txn_version,
    delta_txn_write,
    iceberg_snapshot_by_ref,
    _ref_fixture,
)


def test_txn_skip_and_cross_app_independence(spark, tmp_path):
    base = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert delta_txn_write(spark, base, df, "b0.parquet", "appA", 0, first=True)
    # same app, same version -> skip; LOWER version -> also skip
    assert not delta_txn_write(spark, base, df, "dup.parquet", "appA", 0)
    assert delta_last_txn_version(spark, base, "appA") == 0
    # a DIFFERENT app with version 0 is independent -> writes
    assert delta_txn_write(spark, base, df, "b0b.parquet", "appB", 0)
    # appA progresses at version 1
    assert delta_txn_write(spark, base, df, "b1.parquet", "appA", 1)
    assert not delta_txn_write(spark, base, df, "b1r.parquet", "appA", 1)
    assert delta_last_txn_version(spark, base, "appA") == 1
    assert delta_last_txn_version(spark, base, "appB") == 0
    assert delta_last_txn_version(spark, base, "appC") is None
    # skipped writes never staged their files
    assert not os.path.exists(os.path.join(base, "dup.parquet"))
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        delta_snapshot,
    )

    assert delta_snapshot(spark, base).count() == 3  # b0 + b0b + b1


def test_iceberg_refs(spark, sf_dir):
    base = _ref_fixture(spark, sf_dir)
    assert iceberg_snapshot_by_ref(spark, base, "main").count() == 25
    tag = iceberg_snapshot_by_ref(spark, base, "pre-second-append")
    assert tag.count() == 12
    with pytest.raises(ValueError, match="unknown Iceberg ref"):
        iceberg_snapshot_by_ref(spark, base, "nope")
