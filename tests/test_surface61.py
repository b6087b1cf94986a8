"""Batch GK pins — Hudi upsert schema evolution: survivor-NULL union,
untouched-group invariant, type-conflict refusal, mixed-schema read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.operators.hudi_timeline import base_files
from sap_cta_data_pipeline_spark.operators.hudi_write import hudi_cow_upsert
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    hudi_cow_snapshot,
)

SF = "/root/testdata/sf0.001"


def _nation3(spark):
    from sap_cta_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _two_group_table(spark, tmp_path):
    base = str(tmp_path / "h")
    n = _nation3(spark)
    i1 = hudi_cow_upsert(spark, base, n.filter("n_nationkey < 12"),
                         "n_nationkey")
    i2 = hudi_cow_upsert(spark, base, n.filter("n_nationkey >= 12"),
                         "n_nationkey")
    return base, i1, i2


def test_evolved_upsert_survivors_null_untouched_group_kept(spark, tmp_path):
    base, i1, i2 = _two_group_table(spark, tmp_path)
    before = dict(base_files(base))
    batch = _nation3(spark).filter("n_nationkey < 3").withColumn(
        "n_flag", F.lit(1).cast("int")
    )
    hudi_cow_upsert(spark, base, batch, "n_nationkey")
    after = base_files(base)
    # group hi NEVER rewritten — its slice path is unchanged
    hi_fid = f"fg-i{i2}"
    assert after[hi_fid] == before[hi_fid]
    rows = {r.n_nationkey: r for r in hudi_cow_snapshot(spark, base).collect()}
    assert all(rows[k].n_flag == 1 for k in range(3))        # updated
    assert all(rows[k].n_flag is None for k in range(3, 25))  # survivors + hi
    assert len(rows) == 25


def test_evolved_upsert_type_conflict_refuses(spark, tmp_path):
    base, _, _ = _two_group_table(spark, tmp_path)
    bad = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("string")
    )
    with pytest.raises(ValueError, match="additive\n?.*evolution only|additive"):
        hudi_cow_upsert(spark, base, bad, "n_nationkey")


def test_new_group_born_with_new_column(spark, tmp_path):
    base, _, _ = _two_group_table(spark, tmp_path)
    ins = spark.createDataFrame(
        [(30, "X", 1, 7)],
        "n_nationkey int, n_name string, n_regionkey int, n_flag int",
    )
    hudi_cow_upsert(spark, base, ins, "n_nationkey")
    rows = {r.n_nationkey: r for r in hudi_cow_snapshot(spark, base).collect()}
    assert rows[30].n_flag == 7 and rows[0].n_flag is None
    assert len(rows) == 26
