"""Batch GH/GI pins — Delta type widening + Iceberg writer-side schema
evolution: widening matrix gates, typeChanges metadata, no-rewrite
invariants, fresh field ids, one-swap atomicity, refusal pointers."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _commit,
    _metadata,
    _read_commit,
    delta_snapshot,
    delta_state,
)
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    _load_metadata,
    iceberg_append,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    delta_append_commit,
)
from sap_cta_data_pipeline_spark.operators.surface58 import (
    delta_append_merge_schema,
)
from sap_cta_data_pipeline_spark.operators.surface59 import (
    iceberg_append_evolved,
)

SF = "/root/testdata/sf0.001"


def _nation3(spark):
    from sap_cta_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _widening_table(spark, tmp_path):
    """nation table with typeWidening enabled at v1."""
    base = str(tmp_path / "widen")
    delta_append_commit(spark, base, _nation3(spark), "p0.parquet", first=True)
    _, ss, _, _, _ = delta_state(spark, base)
    _commit(
        os.path.join(base, "_delta_log"),
        1,
        [
            {"commitInfo": {"operation": "SET TBLPROPERTIES"}},
            _metadata(
                schema_json=json.loads(ss),
                configuration={"delta.enableTypeWidening": "true"},
            ),
        ],
    )
    return base


def test_widen_int_to_long_records_type_change(spark, tmp_path):
    base = _widening_table(spark, tmp_path)
    extra = (
        _nation3(spark)
        .filter("n_nationkey < 2")
        .withColumn("n_nationkey", F.col("n_nationkey") + 100)
        .withColumn("n_regionkey", F.col("n_regionkey").cast("long"))
    )
    delta_append_merge_schema(spark, base, extra, "p1.parquet")
    acts = _read_commit(os.path.join(base, "_delta_log"), 2)
    kinds = sorted(k for a in acts for k in a if k != "commitInfo")
    assert kinds == ["add", "metaData"]  # one atomic version, no rewrite
    _, ss, _, _, _ = delta_state(spark, base)
    fld = next(
        f for f in json.loads(ss)["fields"] if f["name"] == "n_regionkey"
    )
    assert fld["type"] == "long"
    assert fld["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    live, _, _, _, _ = delta_state(spark, base)
    assert "p0.parquet" in live  # pre-widening file untouched
    rows = delta_snapshot(spark, base).collect()
    assert len(rows) == 27
    assert all(isinstance(r.n_regionkey, int) for r in rows)


def test_widen_narrowing_refuses_even_with_feature(spark, tmp_path):
    base = _widening_table(spark, tmp_path)
    # first widen to long, then try to append int again (a NARROWING
    # of the now-long declared type)
    wide = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("long")
    )
    delta_append_merge_schema(spark, base, wide, "p1.parquet")
    with pytest.raises(ValueError, match="not a typeWidening-supported"):
        delta_append_merge_schema(
            spark, base, _nation3(spark), "p2.parquet"
        )


def test_widen_refuses_without_feature(spark, tmp_path):
    base = str(tmp_path / "nofeat")
    delta_append_commit(spark, base, _nation3(spark), "p0.parquet", first=True)
    wide = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("long")
    )
    with pytest.raises(ValueError, match="never rewrites a declared type"):
        delta_append_merge_schema(spark, base, wide, "p1.parquet")


def test_widen_float_to_double(spark, tmp_path):
    base = str(tmp_path / "fd")
    df = spark.createDataFrame([(1, 1.5)], "k int, v float")
    delta_append_commit(spark, base, df, "p0.parquet", first=True)
    _, ss, _, _, _ = delta_state(spark, base)
    _commit(
        os.path.join(base, "_delta_log"),
        1,
        [
            {"commitInfo": {"operation": "SET TBLPROPERTIES"}},
            _metadata(
                schema_json=json.loads(ss),
                configuration={"delta.enableTypeWidening": "true"},
            ),
        ],
    )
    delta_append_merge_schema(
        spark, base,
        spark.createDataFrame([(2, 2.25)], "k int, v double"),
        "p1.parquet",
    )
    rows = sorted(
        (r.k, r.v) for r in delta_snapshot(spark, base).collect()
    )
    assert rows == [(1, 1.5), (2, 2.25)]


def _iceberg_base(spark, tmp_path):
    base = str(tmp_path / "iceberg_evolve")
    iceberg_append(spark, base, _nation3(spark), "a0.parquet")
    return base


def test_iceberg_evolution_fresh_ids_one_swap(spark, tmp_path):
    base = _iceberg_base(spark, tmp_path)
    md0 = _load_metadata(base)
    assert md0["last-column-id"] == 3
    hi = _nation3(spark).filter("n_nationkey < 2").withColumn(
        "n_flag", F.lit(1).cast("int")
    )
    v = iceberg_append_evolved(spark, base, hi, "a1.parquet")
    md = _load_metadata(base)
    assert v == 2 and len(md["snapshots"]) == 2  # ONE metadata swap
    assert md["last-column-id"] == 4
    assert len(md["schemas"]) == 2
    cur = next(
        s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
    )
    new_field = next(f for f in cur["fields"] if f["name"] == "n_flag")
    assert new_field["id"] == 4 and new_field["required"] is False
    # each snapshot records the schema it was written under
    sids = {s["snapshot-id"]: s["schema-id"] for s in md["snapshots"]}
    assert sids[1001] == 0 and sids[1002] == md["current-schema-id"]


def test_iceberg_evolution_type_conflict_names_promotion(spark, tmp_path):
    base = _iceberg_base(spark, tmp_path)
    wide = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("long")
    )
    with pytest.raises(ValueError, match="lossless promotion"):
        iceberg_append_evolved(spark, base, wide, "a1.parquet")
    bad = _nation3(spark).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("string")
    )
    with pytest.raises(ValueError, match="cast the frame explicitly"):
        iceberg_append_evolved(spark, base, bad, "a2.parquet")
    # round-11 advice: a refusal must not orphan a staged data file —
    # validation now runs against the tip BEFORE staging, so neither
    # refused append left anything under data/
    import os

    assert sorted(os.listdir(os.path.join(base, "data"))) == ["a0.parquet"]


def test_iceberg_evolution_noop_when_schema_matches(spark, tmp_path):
    base = _iceberg_base(spark, tmp_path)
    iceberg_append_evolved(
        spark, base, _nation3(spark).filter("n_nationkey = 0"), "a1.parquet"
    )
    md = _load_metadata(base)
    assert len(md["schemas"]) == 1  # plain append: zero schema churn
    assert md["current-schema-id"] == 0


def test_iceberg_evolution_requires_existing_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="existing table"):
        iceberg_append_evolved(
            spark, str(tmp_path / "nope"), _nation3(spark), "a0.parquet"
        )
