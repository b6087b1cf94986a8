"""Commit races: one rival writer lands inside another writer's commit
window, and the table must end up as the rival left it.

Each test plants the race with a hook on the step that every commit goes
through (``delta_reader._commit`` for Delta,
``iceberg_reader._put_metadata_if_absent`` for Iceberg, the timeline
lock ``hudi_timeline._locked`` for Hudi). The hook runs the rival once,
through the real writer function, just before that step of the writer
under test; the rival's own steps go straight through.
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
from sap_cta_data_pipeline_spark.operators import hudi_mor as hm
from sap_cta_data_pipeline_spark.operators import hudi_timeline as ht
from sap_cta_data_pipeline_spark.operators import hudi_write as hw
from sap_cta_data_pipeline_spark.operators import iceberg_reader as ir
from sap_cta_data_pipeline_spark.operators import lakehouse_interop as li
from sap_cta_data_pipeline_spark.operators import lakehouse_maintenance as lm
from sap_cta_data_pipeline_spark.operators import surface66 as s66
from sap_cta_data_pipeline_spark.operators import surface67 as s67


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


# ------------------------------------------------------------------ Hudi


def _hudi_nation(spark, sf_dir, tmp_path, name: str, upsert) -> str:
    """A 25-row nation Hudi table from two upserts: keys < 12 in one file
    group, the rest in a second."""
    base = str(tmp_path / name)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    upsert(spark, base, n.filter("n_nationkey < 12"), "n_nationkey")
    upsert(spark, base, n.filter("n_nationkey >= 12"), "n_nationkey")
    return base


def _renamed(spark, sf_dir, key: int, name: str):
    return (
        load_table(spark, sf_dir, "nation")
        .filter(f"n_nationkey = {key}")
        .select("n_nationkey", F.lit(name).alias("n_name"), "n_regionkey")
    )


def _land_hudi_rival(monkeypatch, rival) -> list:
    """Run ``rival()`` once, just before the first timeline lock that
    follows: the writer under test has claimed its instant and written
    its files, and has not yet checked for conflicts. (Run under the
    lock, the rival would wait for it forever.) Returns what the rival
    returned (one entry once fired)."""
    real = ht._locked
    fired: list[bool] = []
    landed: list = []

    def hook(tl):
        if not fired:
            fired.append(True)
            landed.append(rival())
        return real(tl)

    monkeypatch.setattr(ht, "_locked", hook)
    return landed


def _hudi_names(spark, base) -> dict[int, str]:
    df = li.hudi_cow_snapshot(spark, base)
    _keys(df)
    return {r.n_nationkey: r.n_name for r in df.collect()}


def _no_debris(base: str, instant: str) -> bool:
    """Nothing named by ``instant`` is left in the table or its timeline."""
    names = os.listdir(base) + os.listdir(os.path.join(base, ".hoodie"))
    return not any(instant in f for f in names)


def test_hudi_upsert_aborts_on_concurrent_upsert_of_its_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Both upserts rewrite the keys < 12 group. Committed anyway, the
    writer's slice would replace the rival's, and key 2 would lose B."""
    base = _hudi_nation(spark, sf_dir, tmp_path, "hudi_vs_hudi", hw.hudi_cow_upsert)
    landed = _land_hudi_rival(
        monkeypatch,
        lambda: hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 2, "B"), "n_nationkey"),
    )
    with pytest.raises(dr.CommitConflict, match="concurrent commit"):
        hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 1, "A"), "n_nationkey")
    monkeypatch.undo()
    assert landed == ["00000000000004"]  # the writer held 3
    names = _hudi_names(spark, base)
    assert len(names) == 25 and names[2] == "B" and names[1] != "A"
    assert _no_debris(base, "00000000000003")


def test_hudi_upserts_of_different_groups_both_land(
    spark, sf_dir, tmp_path, monkeypatch
):
    base = _hudi_nation(spark, sf_dir, tmp_path, "hudi_two_groups", hw.hudi_cow_upsert)
    landed = _land_hudi_rival(
        monkeypatch,
        lambda: hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 20, "B"), "n_nationkey"),
    )
    ours = hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 1, "A"), "n_nationkey")
    monkeypatch.undo()
    assert (ours, landed) == ("00000000000003", ["00000000000004"])
    names = _hudi_names(spark, base)
    assert len(names) == 25 and names[1] == "A" and names[20] == "B"


def test_hudi_delete_aborts_on_concurrent_upsert_of_its_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The delete's survivors-only slice was planned before the rival
    renamed key 2; committed, it would bring back the old name."""
    base = _hudi_nation(spark, sf_dir, tmp_path, "hudi_del_vs_up", hw.hudi_cow_upsert)
    landed = _land_hudi_rival(
        monkeypatch,
        lambda: hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 2, "B"), "n_nationkey"),
    )
    with pytest.raises(dr.CommitConflict, match="concurrent commit"):
        s66.hudi_delete(spark, base, "n_nationkey = 3")
    monkeypatch.undo()
    assert landed
    names = _hudi_names(spark, base)
    assert len(names) == 25 and 3 in names and names[2] == "B"
    assert _no_debris(base, "00000000000003")


@pytest.mark.parametrize("writer", ["upsert", "compact"])
def test_hudi_mor_upsert_and_compaction_conflict(
    spark, sf_dir, tmp_path, monkeypatch, writer
):
    """A log block appended to a group while it is compacted would be
    dropped by the compacted base (upsert lands first) or would replay
    over a base planned without it (compaction lands first). Whichever
    completes second aborts."""
    base = _hudi_nation(spark, sf_dir, tmp_path, f"mor_{writer}", s67.hudi_mor_upsert)
    s67.hudi_mor_upsert(spark, base, _renamed(spark, sf_dir, 5, "LOG"), "n_nationkey")
    upsert = lambda: s67.hudi_mor_upsert(  # noqa: E731
        spark, base, _renamed(spark, sf_dir, 1, "B"), "n_nationkey"
    )
    compact = lambda: hw.hudi_mor_compact(spark, base)  # noqa: E731
    rival, ours = (compact, upsert) if writer == "upsert" else (upsert, compact)
    landed = _land_hudi_rival(monkeypatch, rival)
    with pytest.raises(dr.CommitConflict, match="concurrent commit"):
        ours()
    monkeypatch.undo()
    assert landed == ["00000000000005"]  # the writer held 4
    assert _no_debris(base, "00000000000004")
    names = {
        r.n_nationkey: r.n_name for r in hm.hudi_mor_snapshot(spark, base).collect()
    }
    assert len(names) == 25 and names[5] == "LOG"
    assert (names[1] == "B") == (writer == "compact")


def test_hudi_upsert_aborts_on_instant_pending_at_its_read(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Three writers. P claims instant 3 and writes the keys < 12 group;
    before P completes, Q completes 4 (the other group) and W reads,
    with P still pending. P then completes. W's rewrite of the group,
    planned from a read that never saw P, would bring back the name P
    replaced."""
    base = _hudi_nation(spark, sf_dir, tmp_path, "hudi_three", hw.hudi_cow_upsert)
    w_read: list = []

    def q_then_w_reads():
        landed = hw.hudi_cow_upsert(
            spark, base, _renamed(spark, sf_dir, 20, "Q"), "n_nationkey"
        )
        w_read.append(ht.snapshot(base))
        return landed

    landed = _land_hudi_rival(monkeypatch, q_then_w_reads)
    p = hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 1, "P"), "n_nationkey")
    monkeypatch.undo()
    assert (p, landed) == ("00000000000003", ["00000000000004"])
    monkeypatch.setattr(ht, "snapshot", lambda _base: w_read[0])
    with pytest.raises(dr.CommitConflict, match="concurrent commit"):
        hw.hudi_cow_upsert(spark, base, _renamed(spark, sf_dir, 2, "W"), "n_nationkey")
    monkeypatch.undo()
    names = _hudi_names(spark, base)
    assert len(names) == 25 and names[1] == "P" and names[20] == "Q"
    assert names[2] != "W"
    assert _no_debris(base, "00000000000005")


def test_hudi_concurrent_read_modify_writes_lose_no_update(tmp_path):
    """Eight threads each add one to a counter file group five times,
    each add a read-dependent commit retried on ``CommitConflict``: every
    add lands once, at an instant of its own, and no claim is left."""
    import sys
    import threading

    base = str(tmp_path / "counter")
    ht.create_table(base, "COPY_ON_WRITE")

    def read() -> tuple[str, int]:
        instant, slices = ht.snapshot(base)
        if "counter" not in slices:
            return instant, 0
        with open(os.path.join(base, slices["counter"][0])) as fh:
            return instant, int(fh.read())

    def add_one() -> str:
        while True:
            read_instant, n = read()

            def build(instant: str) -> list[tuple[str, str]]:
                rel = f"counter_0-0-0_{instant}.txt"
                with open(os.path.join(base, rel), "w") as fh:
                    fh.write(str(n + 1))
                return [("counter", rel)]

            try:
                return ht.commit(
                    base, build, action="commit", operation="upsert",
                    read=read_instant,
                )
            except dr.CommitConflict:
                continue

    landed: list[str] = []
    threads = [
        threading.Thread(target=lambda: landed.extend(add_one() for _ in range(5)))
        for _ in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(landed) == len(set(landed)) == 40
    assert read()[1] == 40
    left = os.listdir(os.path.join(base, ".hoodie"))
    assert not any(f.endswith((".requested", ".inflight")) for f in left)
