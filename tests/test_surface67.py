"""Batch GQ pins — the MOR write path (log-append bound, tombstones,
resurrect-after-delete, compaction fold) and Iceberg MERGE WITH SCHEMA
EVOLUTION (one-version atomicity, fresh field id, refusals)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators.hudi_mor import hudi_mor_snapshot
from sap_cta_data_pipeline_spark.operators.hudi_timeline import file_slices
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    _load_metadata,
    iceberg_append,
    iceberg_snapshot,
)
from sap_cta_data_pipeline_spark.operators.surface63 import iceberg_merge_into
from sap_cta_data_pipeline_spark.operators.surface67 import hudi_mor_upsert

SF = "/root/testdata/sf0.001"


def _nation(spark):
    return load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ------------------------------------------------------- MOR write path


def test_mor_upsert_appends_log_never_rewrites_base(spark, tmp_path):
    base = str(tmp_path / "mor")
    n = _nation(spark)
    hudi_mor_upsert(spark, base, n, "n_nationkey")
    (b0, logs0), = file_slices(base).values()
    assert b0 is not None and logs0 == []
    upd = n.filter("n_nationkey < 4").withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("-MU"))
    )
    hudi_mor_upsert(spark, base, upd, "n_nationkey")
    (b1, logs1), = file_slices(base).values()
    assert b1 == b0  # base slice untouched — the MOR write bound
    assert len(logs1) == 1 and ".log.1_" in logs1[0]
    got = {r.n_nationkey: r.n_name for r in hudi_mor_snapshot(spark, base).collect()}
    assert got[0].endswith("-MU") and not got[5].endswith("-MU")


def test_mor_tombstone_then_resurrect(spark, tmp_path):
    base = str(tmp_path / "ttl")
    n = _nation(spark)
    hudi_mor_upsert(spark, base, n, "n_nationkey")
    kill = n.filter("n_nationkey = 7").withColumn("__d", F.lit(True))
    hudi_mor_upsert(spark, base, kill, "n_nationkey", delete_col="__d")
    assert 7 not in {
        r.n_nationkey for r in hudi_mor_snapshot(spark, base).collect()
    }
    back = n.filter("n_nationkey = 7").withColumn(
        "n_name", F.lit("LAZARUS")
    )
    hudi_mor_upsert(spark, base, back, "n_nationkey")
    got = {r.n_nationkey: r.n_name for r in hudi_mor_snapshot(spark, base).collect()}
    assert got[7] == "LAZARUS"  # ordered log replay resurrects


def test_mor_insert_routes_to_fresh_group(spark, tmp_path):
    base = str(tmp_path / "ins")
    n = _nation(spark)
    hudi_mor_upsert(spark, base, n, "n_nationkey")
    newbies = n.filter("n_nationkey < 2").select(
        (F.col("n_nationkey") + 500).cast("int").alias("n_nationkey"),
        F.concat(F.lit("N-"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    hudi_mor_upsert(spark, base, newbies, "n_nationkey")
    slices = file_slices(base)
    assert len(slices) == 2  # original group + one fresh insert group
    assert hudi_mor_snapshot(spark, base).count() == 27


def test_mor_compaction_folds_log(spark, tmp_path):
    from sap_cta_data_pipeline_spark.operators.hudi_write import (
        hudi_mor_compact,
    )

    base = str(tmp_path / "cmp")
    n = _nation(spark)
    hudi_mor_upsert(spark, base, n, "n_nationkey")
    upd = n.filter("n_nationkey < 4").withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("-MU"))
    ).withColumn("__d", F.lit(False)).unionByName(
        n.filter("n_regionkey = 4").withColumn("__d", F.lit(True))
    )
    hudi_mor_upsert(spark, base, upd, "n_nationkey", delete_col="__d")
    before = sorted(map(tuple, hudi_mor_snapshot(spark, base).collect()))
    hudi_mor_compact(spark, base)
    after_state = file_slices(base)
    assert all(logs == [] for _b, logs in after_state.values())
    assert sorted(map(tuple, hudi_mor_snapshot(spark, base).collect())) == before


def test_mor_batch_latest_wins(spark, tmp_path):
    base = str(tmp_path / "lw")
    n = _nation(spark)
    hudi_mor_upsert(spark, base, n, "n_nationkey")
    doubled = n.filter("n_nationkey = 1").withColumn(
        "n_name", F.lit("A")
    ).unionByName(
        n.filter("n_nationkey = 1").withColumn("n_name", F.lit("B"))
    )
    hudi_mor_upsert(spark, base, doubled, "n_nationkey")
    got = {r.n_nationkey: r.n_name for r in hudi_mor_snapshot(spark, base).collect()}
    assert got[1] in ("A", "B")  # deduped to ONE record in the block
    # the log block carries exactly one record for the key
    (_b, logs), = file_slices(base).values()
    assert len(logs) == 1


# ------------------------------------------ MERGE WITH SCHEMA EVOLUTION


def _ice_two_files(spark, base):
    n = _nation(spark)
    iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")


def test_merge_evolution_one_atomic_version(spark, tmp_path):
    base = str(tmp_path / "evo")
    _ice_two_files(spark, base)
    v_before = _load_metadata(base)
    n = _nation(spark)
    src = n.filter("n_nationkey < 5").withColumn(
        "tier", (F.col("n_nationkey") % 3).cast("long")
    )
    v, n_rw, n_ins = iceberg_merge_into(
        spark, base, src, "n_nationkey", ["n_name", "tier"],
        schema_evolution=True,
    )
    md = _load_metadata(base)
    # evolved schema + merge snapshot in ONE new metadata version
    assert len(md["schemas"]) == len(v_before.get("schemas", [])) + 1
    cur = next(
        s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
    )
    tier = next(f for f in cur["fields"] if f["name"] == "tier")
    assert tier["id"] == md["last-column-id"]  # fresh id, top of range
    assert tier["required"] is False
    rows = {r.n_nationkey: r for r in iceberg_snapshot(spark, base).collect()}
    assert rows[2].tier == 2 % 3
    assert rows[7].tier is None  # same rewritten file, unmatched row
    assert rows[20].tier is None  # untouched file predates the column


def test_merge_evolution_requires_flag(spark, tmp_path):
    base = str(tmp_path / "noflag")
    _ice_two_files(spark, base)
    src = _nation(spark).filter("n_nationkey < 5").withColumn(
        "tier", F.lit(1).cast("long")
    )
    with pytest.raises(ValueError, match="must equal target columns"):
        iceberg_merge_into(spark, base, src, "n_nationkey", ["n_name"])


def test_merge_evolution_still_requires_all_target_columns(spark, tmp_path):
    base = str(tmp_path / "missing")
    _ice_two_files(spark, base)
    src = _nation(spark).filter("n_nationkey < 5").drop("n_regionkey")
    with pytest.raises(ValueError, match="missing target columns"):
        iceberg_merge_into(
            spark, base, src, "n_nationkey", ["n_name"], schema_evolution=True
        )
