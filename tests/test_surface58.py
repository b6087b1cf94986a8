"""Batch GF pins — writer-side schema evolution: type-conflict and
column-mapping refusals, one-commit atomicity, the no-rewrite
invariant, and NULL-fill of source-missing columns."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.operators.delta_dml import delta_merge_into
from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _read_commit,
    delta_snapshot,
    delta_state,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    delta_append_commit,
)
from sap_cta_data_pipeline_spark.operators.surface58 import (
    delta_append_merge_schema,
)

SF = "/root/testdata/sf0.001"


def _nation3(spark):
    from sap_cta_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _fresh_table(spark, tmp_path, name="t"):
    base = str(tmp_path / name)
    delta_append_commit(spark, base, _nation3(spark), "part-0.parquet",
                        first=True)
    return base


def test_append_type_conflict_refuses(spark, tmp_path):
    base = _fresh_table(spark, tmp_path)
    bad = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("string")
    )
    with pytest.raises(ValueError, match="never rewrites a declared type"):
        delta_append_merge_schema(spark, base, bad, "part-bad.parquet")


def test_merge_type_conflict_refuses(spark, tmp_path):
    base = _fresh_table(spark, tmp_path)
    bad = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("string")
    )
    with pytest.raises(ValueError, match="never rewrites a declared type"):
        delta_merge_into(
            spark, base, bad, "n_nationkey", ["n_name"],
            schema_evolution=True,
        )


def test_merge_column_mapping_refuses(spark, tmp_path):
    """Evolution on a column-mapping table needs writer-allocated
    physical names + field ids — refuse, never approximate."""
    import sap_cta_data_pipeline_spark.operators.delta_dml as dml

    base = _fresh_table(spark, tmp_path)

    orig = dml.log_state

    def fake_state(spark_, base_, version=None):
        st = orig(spark_, base_, version)
        config = {"delta.columnMapping.mode": "name"}
        return st._replace(metadata={**st.metadata, "configuration": config})

    dml.log_state = fake_state
    try:
        with pytest.raises(ValueError, match="column-mapping"):
            delta_merge_into(
                spark, base,
                _nation3(spark).withColumn("x", F.lit(1)),
                "n_nationkey", ["n_name"], schema_evolution=True,
            )
    finally:
        dml.log_state = orig


def test_append_evolution_is_one_commit_no_rewrite(spark, tmp_path):
    """The widened metaData and the add ride ONE commit; the
    pre-evolution file is never rewritten (old rows read typed NULL)."""
    base = _fresh_table(spark, tmp_path)
    extra = (
        _nation3(spark)
        .filter("n_nationkey < 3")
        .withColumn("n_nationkey", F.col("n_nationkey") + 100)
        .withColumn("n_flag", F.lit(1).cast("int"))
    )
    delta_append_merge_schema(spark, base, extra, "part-1.parquet")
    log_dir = os.path.join(base, "_delta_log")
    acts = _read_commit(log_dir, 1)
    kinds = sorted(k for a in acts for k in a if k != "commitInfo")
    assert kinds == ["add", "metaData"]  # one atomic version
    assert not os.path.exists(os.path.join(log_dir, f"{2:020d}.json"))
    live, ss, _, _, _ = delta_state(spark, base)
    assert "part-0.parquet" in live  # untouched, still live
    fields = {f["name"] for f in json.loads(ss)["fields"]}
    assert "n_flag" in fields
    rows = {r.n_nationkey: r.n_flag for r in delta_snapshot(spark, base).collect()}
    assert rows[0] is None and rows[100] == 1


def test_merge_evolution_one_commit_and_null_fill(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION: (a) metaData + removes + adds in ONE
    version; (b) a target column the source LACKS is NULL-filled on
    inserts and kept on matched rows."""
    base = _fresh_table(spark, tmp_path)
    source = spark.createDataFrame(
        [(1, "ONE", 5), (200, "NEW", 5)],
        "n_nationkey int, n_name string, n_upd int",
    )  # note: NO n_regionkey
    v, n_rw, n_ins = delta_merge_into(
        spark, base, source, "n_nationkey", ["n_name"],
        schema_evolution=True,
    )
    acts = _read_commit(os.path.join(base, "_delta_log"), v)
    kinds = [k for a in acts for k in a]
    assert "metaData" in kinds and "add" in kinds and "remove" in kinds
    rows = {
        r.n_nationkey: r
        for r in delta_snapshot(spark, base).collect()
    }
    assert rows[1].n_name == "ONE" and rows[1].n_upd == 5
    assert rows[1].n_regionkey is not None  # matched keeps target value
    assert rows[200].n_regionkey is None  # insert NULL-fills
    assert rows[200].n_upd == 5
    assert rows[0].n_upd is None  # untouched rows read typed NULL


def test_merge_without_new_columns_emits_no_metadata(spark, tmp_path):
    """schema_evolution=True with a source matching the target exactly
    degrades to a plain MERGE — no spurious metaData churn."""
    base = _fresh_table(spark, tmp_path)
    source = _nation3(spark).filter("n_nationkey = 1").withColumn(
        "n_name", F.upper("n_name")
    )
    v, _, _ = delta_merge_into(
        spark, base, source, "n_nationkey", ["n_name"],
        schema_evolution=True,
    )
    acts = _read_commit(os.path.join(base, "_delta_log"), v)
    assert not any("metaData" in a for a in acts)


def test_append_partitioned_refuses(spark, tmp_path):
    import sap_cta_data_pipeline_spark.operators.surface58 as m

    base = _fresh_table(spark, tmp_path)
    orig = m.log_state

    def fake_state(spark_, base_, version=None):
        st = orig(spark_, base_, version)
        return st._replace(metadata={**st.metadata, "partitionColumns": ["n_regionkey"]})

    m.log_state = fake_state
    try:
        with pytest.raises(NotImplementedError, match="partitioned"):
            delta_append_merge_schema(
                spark, base, _nation3(spark), "p.parquet"
            )
    finally:
        m.log_state = orig
