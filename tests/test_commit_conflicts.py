"""Commit races: one rival writer lands inside another writer's commit
window, and the table must end up as the rival left it.

Each test plants the race with a hook on the put-if-absent step that
every commit goes through (``delta_reader._commit`` for Delta,
``iceberg_reader._put_metadata_if_absent`` for Iceberg). The hook runs
the rival once, through the real writer function, just before the first
put of the writer under test; the rival's own puts go straight through.
A read-dependent writer must then abort instead of committing a rewrite
planned against the snapshot the rival replaced. A blind append must
still land after the rival."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators import delta_dml as dml
from sap_cta_data_pipeline_spark.operators import delta_reader as dr
from sap_cta_data_pipeline_spark.operators import iceberg_reader as ir
from sap_cta_data_pipeline_spark.operators import lakehouse_interop as li
from sap_cta_data_pipeline_spark.operators import lakehouse_maintenance as lm


def _sink_clone(spark, sf_dir, tmp_path, name: str) -> str:
    """A private copy of the 25-row nation Delta sink (two files)."""
    clone = str(tmp_path / name)
    shutil.copytree(li._build_sink_fixture(spark, sf_dir), clone)
    os.remove(os.path.join(clone, "_FIXTURE_READY"))
    return clone


def _iceberg_nation(spark, sf_dir, tmp_path, name: str) -> str:
    """A 25-row nation Iceberg table from two appends."""
    base = str(tmp_path / name)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    ir.iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    ir.iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
    return base


def _land_delta_rival(monkeypatch, rival) -> list[int]:
    """Run ``rival()`` once, inside the first Delta commit attempt that
    follows. Modules that bound ``_commit`` by name at import are routed
    through the same hook, so every commit is seen whatever name it
    calls. Returns the contested versions (one entry once fired)."""
    real = dr._commit
    landed: list[int] = []

    def hook(log_dir, version, actions):
        if not landed:
            landed.append(version)
            rival()
        return real(log_dir, version, actions)

    for mod in (dr, dml, li, lm):
        if hasattr(mod, "_commit"):
            monkeypatch.setattr(mod, "_commit", hook)
    return landed


def _land_iceberg_rival(monkeypatch, rival) -> list[int]:
    """Run ``rival()`` once, inside the first Iceberg metadata put."""
    real = ir._put_metadata_if_absent
    landed: list[int] = []

    def hook(meta_dir, version, md):
        if not landed:
            landed.append(version)
            rival()
        return real(meta_dir, version, md)

    monkeypatch.setattr(ir, "_put_metadata_if_absent", hook)
    return landed


def _keys(df) -> list[int]:
    keys = [r.n_nationkey for r in df.select("n_nationkey").collect()]
    assert len(keys) == len(set(keys)), "duplicate keys in the table"
    return keys


def test_dv_delete_aborts_on_concurrent_dv_delete(spark, sf_dir, tmp_path, monkeypatch):
    """Both deletes rewrite the same file's deletion vector: committed
    anyway, the second would drop the first's vector and bring key 1
    back."""
    base = _sink_clone(spark, sf_dir, tmp_path, "dv_vs_dv")
    landed = _land_delta_rival(
        monkeypatch, lambda: li.delta_delete_where(spark, base, "n_nationkey = 1")
    )
    with pytest.raises(dml.ConcurrentMergeError):
        li.delta_delete_where(spark, base, "n_nationkey = 2")
    monkeypatch.undo()
    assert landed
    keys = _keys(dr.delta_snapshot(spark, base))
    assert len(keys) == 24 and 1 not in keys and 2 in keys


def test_optimize_aborts_on_concurrent_delete(spark, sf_dir, tmp_path, monkeypatch):
    """A compaction planned before a delete would re-add the deleted
    rows in its compacted file."""
    base = _sink_clone(spark, sf_dir, tmp_path, "compact_vs_dv")
    landed = _land_delta_rival(
        monkeypatch, lambda: li.delta_delete_where(spark, base, "n_nationkey < 5")
    )
    with pytest.raises(dml.ConcurrentMergeError):
        li.delta_optimize_compact(spark, base)
    monkeypatch.undo()
    assert landed
    keys = _keys(dr.delta_snapshot(spark, base))
    assert len(keys) == 20 and min(keys) == 5


def test_zorder_aborts_on_concurrent_delete(spark, sf_dir, tmp_path, monkeypatch):
    base = _sink_clone(spark, sf_dir, tmp_path, "zorder_vs_dv")
    landed = _land_delta_rival(
        monkeypatch, lambda: li.delta_delete_where(spark, base, "n_nationkey < 5")
    )
    with pytest.raises(dml.ConcurrentMergeError):
        lm.delta_optimize_zorder(spark, base, "n_nationkey", "n_regionkey")
    monkeypatch.undo()
    assert landed
    keys = _keys(dr.delta_snapshot(spark, base))
    assert len(keys) == 20 and min(keys) == 5


def test_merge_aborts_on_concurrent_optimize(spark, sf_dir, tmp_path, monkeypatch):
    """OPTIMIZE removes files with ``dataChange: false``, so the
    data-change rule alone lets the MERGE retry past it; the MERGE would
    then re-add every row of the file it rewrote next to the compacted
    copy. The removed-path rule aborts it."""
    base = _sink_clone(spark, sf_dir, tmp_path, "merge_vs_compact")
    landed = _land_delta_rival(
        monkeypatch, lambda: li.delta_optimize_compact(spark, base)
    )
    src = (
        load_table(spark, sf_dir, "nation")
        .filter("n_nationkey < 2")
        .select("n_nationkey", F.lit("MRG").alias("n_name"), "n_regionkey")
    )
    with pytest.raises(dml.ConcurrentMergeError):
        dml.delta_merge_into(spark, base, src, "n_nationkey", ["n_name"])
    monkeypatch.undo()
    assert landed
    snap = dr.delta_snapshot(spark, base)
    assert len(_keys(snap)) == 25
    assert snap.filter("n_name = 'MRG'").count() == 0


def test_iceberg_delete_aborts_on_concurrent_compaction(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A position delete planned against the pre-compaction files names
    files the compacted snapshot no longer holds: committed on the new
    tip it deletes nothing, and key 7 stays."""
    base = _iceberg_nation(spark, sf_dir, tmp_path, "ice_del_vs_compact")
    landed = _land_iceberg_rival(
        monkeypatch, lambda: ir.iceberg_rewrite_compact(spark, base)
    )
    with pytest.raises(ir.IcebergCommitConflict, match="concurrent commit"):
        ir.iceberg_delete_where(spark, base, "n_nationkey = 7")
    monkeypatch.undo()
    assert landed
    keys = _keys(ir.iceberg_snapshot(spark, base))
    assert len(keys) == 25 and 7 in keys


def test_blind_append_lands_past_concurrent_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An append reads nothing, so it retries at the next version."""
    base = _sink_clone(spark, sf_dir, tmp_path, "append_vs_dv")
    landed = _land_delta_rival(
        monkeypatch, lambda: li.delta_delete_where(spark, base, "n_nationkey = 1")
    )
    extra = (
        load_table(spark, sf_dir, "nation")
        .limit(3)
        .selectExpr("n_nationkey + 200 AS n_nationkey", "n_name", "n_regionkey")
    )
    li.delta_append_commit(spark, base, extra, "ours.parquet")
    monkeypatch.undo()
    assert landed == [2]  # the rival took version 2; the append landed at 3
    live, *_ = dr.delta_state(spark, base)
    assert "ours.parquet" in live
    keys = _keys(dr.delta_snapshot(spark, base))
    assert len(keys) == 27 and 1 not in keys
