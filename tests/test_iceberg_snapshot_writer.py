"""Pins for iceberg_reader's one snapshot writer: every Iceberg writer
records the same snapshot bookkeeping (parent snapshot, schema id), and
readers that plan from manifests see every later commit."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators import iceberg_reader as ir
from sap_cta_data_pipeline_spark.operators.iceberg_partitioning import (
    _build_evo_fixture,
)
from sap_cta_data_pipeline_spark.operators.surface21 import (
    _build_stats_fixture,
    iceberg_stats_plan,
)
from sap_cta_data_pipeline_spark.operators.surface59 import iceberg_append_evolved


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _versions(base: str) -> list[dict]:
    meta_dir = os.path.join(base, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        n = int(fh.read())
    out = []
    for v in range(1, n + 1):
        with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
            out.append(json.load(fh))
    return out


def _assert_bookkeeping(base: str) -> list[dict]:
    """Each committed snapshot names the snapshot current before it as
    its parent, and the schema current at its commit as its schema-id."""
    mds = _versions(base)
    first = mds[0]["snapshots"][-1]
    assert "parent-snapshot-id" not in first
    assert first["schema-id"] == mds[0]["current-schema-id"]
    for prev, md in zip(mds, mds[1:]):
        snap = md["snapshots"][-1]
        assert snap["snapshot-id"] == md["current-snapshot-id"]
        assert snap["parent-snapshot-id"] == prev["current-snapshot-id"]
        assert snap["schema-id"] == md["current-schema-id"]
    return mds


def test_every_writer_records_parent_and_schema(spark, sf_dir, tmp_path):
    base = str(tmp_path / "ib")
    n = _nation(spark, sf_dir)
    ir.iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    ir.iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
    ir.iceberg_delete_where(spark, base, "n_nationkey % 3 = 0")
    ir.iceberg_eq_delete(spark, base, "n_name", ["NATION_7"])
    ir.iceberg_rewrite_compact(spark, base)
    mds = _assert_bookkeeping(base)
    assert [md["snapshots"][-1]["summary"]["operation"] for md in mds] == [
        "append", "append", "delete", "delete", "replace",
    ]
    assert ir.iceberg_snapshot(spark, base).count() == 25 - 9 - 1


def test_delete_after_evolving_append_records_evolved_schema(
    spark, sf_dir, tmp_path
):
    base = str(tmp_path / "evo")
    n = _nation(spark, sf_dir)
    ir.iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    hi = n.filter("n_nationkey >= 12").withColumn(
        "n_name_len", F.length("n_name").cast("int")
    )
    iceberg_append_evolved(spark, base, hi, "a1.parquet")
    ir.iceberg_delete_where(spark, base, "n_nationkey = 14")
    mds = _assert_bookkeeping(base)
    assert [md["snapshots"][-1]["schema-id"] for md in mds] == [0, 1, 1]


def test_stats_plan_reads_the_current_metadata(spark, sf_dir, tmp_path):
    """A file appended after the stats fixture carries no bounds, so the
    bounds plan can never prune it; planning from the first metadata
    version would miss it altogether."""
    base = str(tmp_path / "stats")
    _build_stats_fixture(spark, sf_dir, base)
    ir.iceberg_append(
        spark, base, _nation(spark, sf_dir).filter("n_nationkey = 20"), "x.parquet"
    )
    plan = iceberg_stats_plan(base, field_id=1, lo=7, hi=12, typ="int")
    assert [os.path.basename(p) for p in plan] == [
        "range-10-14.parquet", "range-5-9.parquet", "x.parquet",
    ]


def _keys(df) -> list[int]:
    return sorted(r.n_nationkey for r in df.select("n_nationkey").collect())


def test_append_to_partitioned_table_is_never_pruned(spark, sf_dir, tmp_path):
    """An appended file carries no partition value, so it is written with
    an empty partition record: a partition filter keeps it (the residual
    predicate row-filters it) instead of pruning it on a null value."""
    base = str(tmp_path / "part")
    ir._build_iceberg_part_fixture(spark, sf_dir, base)
    n = _nation(spark, sf_dir)
    extra = n.filter("n_regionkey = 2").withColumn(
        "n_nationkey", (F.col("n_nationkey") + 100).cast("int")
    )
    ir.iceberg_append(spark, base, extra, "extra.parquet")
    got = ir.iceberg_snapshot(
        spark, base, partition_filter={"n_regionkey": 2}
    ).filter("n_regionkey = 2")
    region2 = _keys(n.filter("n_regionkey = 2"))
    assert _keys(got) == region2 + [k + 100 for k in region2]


def test_compacting_an_evolved_spec_keeps_filtered_rows(spark, sf_dir, tmp_path):
    """Compaction folds the spec-evolution table into one file; the
    region-filtered read of scan_iceberg_partition_evolution still
    returns every region-1 and region-2 row."""
    base = str(tmp_path / "evo")
    _build_evo_fixture(spark, sf_dir, base)
    ir.iceberg_rewrite_compact(spark, base)
    got = ir.iceberg_snapshot(
        spark, base, partition_filter={"n_regionkey": 2}
    ).filter(F.col("n_regionkey").isin(1, 2))
    assert _keys(got) == _keys(_nation(spark, sf_dir).filter("n_regionkey IN (1, 2)"))
