"""Batch GP pins — tri-format DML/streaming symmetry: Iceberg CoW
UPDATE (matched-file bound, pre-update SET semantics, no-op, conflict
abort), Hudi predicate DELETE (hit-group bound, emptied-group slice,
pre-delete time travel), Hudi incremental streaming tail (survivor
rows excluded, exact replay, checkpoint recovery)."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators.hudi_timeline import base_files
from sap_cta_data_pipeline_spark.operators.hudi_write import hudi_cow_upsert
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    IcebergCommitConflict,
    iceberg_append,
    iceberg_snapshot,
    iceberg_state,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    hudi_cow_snapshot,
)
from sap_cta_data_pipeline_spark.operators.surface66 import (
    _hudi_instant_files,
    _make_hudi_tail_datasource,
    hudi_delete,
    iceberg_update_cow,
)


def _drain(reader, start, end) -> list[tuple]:
    """Materialize a window the way a micro-batch would: driver-side
    split plan (partitions) + executor-side read body (_read_partition —
    the TaskContext-guarded read() wraps it)."""
    rows: list[tuple] = []
    for p in reader.partitions(start, end):
        for batch in reader._read_partition(p):
            d = batch.to_pydict()
            names = list(d)
            rows.extend(
                tuple(d[n][i] for n in names) for i in range(batch.num_rows)
            )
    return rows

SF = "/root/testdata/sf0.001"


def _nation(spark):
    return load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _ice_two_files(spark, base):
    n = _nation(spark)
    iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")


# ------------------------------------------------------ Iceberg UPDATE


def test_update_rewrites_only_matched_files(spark, tmp_path):
    """A predicate confined to the lo file rewrites ONLY the lo file:
    the hi file survives with its original path and sequence."""
    base = str(tmp_path / "bound")
    _ice_two_files(spark, base)
    _, files_before, _, _ = iceberg_state(base)
    hi_before = next(
        (f["path"], f["seq"]) for f in files_before if "a1" in f["path"]
    )
    v, n_rw = iceberg_update_cow(
        spark, base, "n_nationkey = 3", {"n_name": "'THREE'"}
    )
    assert n_rw == 1
    _, files_after, _, _ = iceberg_state(base)
    assert next(
        (f["path"], f["seq"]) for f in files_after if "a1" in f["path"]
    ) == hi_before
    got = {
        r.n_nationkey: r.n_name for r in iceberg_snapshot(spark, base).collect()
    }
    assert got[3] == "THREE" and got[4] != "THREE"


def test_update_set_evaluates_against_pre_update_row(spark, tmp_path):
    """Multi-column SET where one assignment references a column the
    other assignment changes: both read the PRE-update row (SQL UPDATE
    semantics), not a sequential apply."""
    base = str(tmp_path / "preupd")
    _ice_two_files(spark, base)
    iceberg_update_cow(
        spark,
        base,
        "n_regionkey = 2",
        {"n_regionkey": "n_regionkey + 10", "n_name": "concat(n_name, '-R', n_regionkey)"},
    )
    rows = {r.n_nationkey: r for r in iceberg_snapshot(spark, base).collect()}
    src = {r.n_nationkey: r for r in _nation(spark).collect()}
    for k, r0 in src.items():
        if r0.n_regionkey == 2:
            assert rows[k].n_regionkey == 12
            # the name suffix used the PRE-update region (2), not 12
            assert rows[k].n_name == f"{r0.n_name}-R2"
        else:
            assert rows[k].n_regionkey == r0.n_regionkey


def test_update_no_match_is_noop(spark, tmp_path):
    base = str(tmp_path / "noop")
    _ice_two_files(spark, base)
    before = sorted(os.listdir(os.path.join(base, "metadata")))
    v, n_rw = iceberg_update_cow(
        spark, base, "n_nationkey = 9999", {"n_name": "'X'"}
    )
    assert n_rw == 0
    assert sorted(os.listdir(os.path.join(base, "metadata"))) == before


def test_update_conflict_aborts_and_cleans_staged(spark, tmp_path, monkeypatch):
    """A commit landing between planning and swap aborts the UPDATE and
    removes its staged files (never a lost update)."""
    import sap_cta_data_pipeline_spark.operators.surface63 as s63

    base = str(tmp_path / "conflict")
    _ice_two_files(spark, base)
    real = s63._commit_cow_swap

    def race(b, prev, cur_v, removed, new_files, tag="cow"):
        iceberg_append(
            spark, base, _nation(spark).filter("n_nationkey = 0"), "race.parquet"
        )
        return real(b, prev, cur_v, removed, new_files, tag)

    monkeypatch.setattr(
        "sap_cta_data_pipeline_spark.operators.surface66._commit_cow_swap", race
    )
    with pytest.raises(IcebergCommitConflict):
        iceberg_update_cow(spark, base, "n_nationkey < 5", {"n_name": "'X'"})
    leftovers = [
        f for f in os.listdir(os.path.join(base, "data")) if f.startswith("upd-")
    ]
    assert leftovers == []


def test_update_rejects_unknown_column(spark, tmp_path):
    base = str(tmp_path / "badcol")
    _ice_two_files(spark, base)
    with pytest.raises(ValueError, match="non-columns"):
        iceberg_update_cow(spark, base, "true", {"nope": "'X'"})


# --------------------------------------------------------- Hudi DELETE


def _hudi_two_groups(spark, base):
    n = _nation(spark)
    hudi_cow_upsert(spark, base, n.filter("n_nationkey < 12"), "n_nationkey")
    hudi_cow_upsert(spark, base, n.filter("n_nationkey >= 12"), "n_nationkey")


def test_hudi_delete_rewrites_only_hit_groups(spark, tmp_path):
    base = str(tmp_path / "hbound")
    _hudi_two_groups(spark, base)
    before = dict(base_files(base))
    # keys 0..4 live only in the lo group
    instant, n_rw = hudi_delete(spark, base, "n_nationkey < 5")
    assert n_rw == 1
    after = base_files(base)
    lo_fid = next(fid for fid, p in before.items() if "fg-i" in fid and p != after.get(fid))
    assert after[lo_fid] != before[lo_fid]  # lo slice advanced
    untouched = [fid for fid in before if fid != lo_fid]
    assert all(after[f] == before[f] for f in untouched)
    got = sorted(
        r.n_nationkey for r in hudi_cow_snapshot(spark, base).collect()
    )
    assert got == list(range(5, 25))


def test_hudi_delete_emptied_group_writes_zero_row_slice(spark, tmp_path):
    base = str(tmp_path / "hempty")
    _hudi_two_groups(spark, base)
    instant, n_rw = hudi_delete(spark, base, "n_nationkey < 12")
    assert n_rw == 1
    groups = base_files(base)
    # the emptied group's latest slice exists, carries zero rows
    import pyarrow.parquet as pq

    empties = [
        p for p in groups.values()
        if pq.ParquetFile(os.path.join(base, p)).metadata.num_rows == 0
    ]
    assert len(empties) == 1 and instant in empties[0]
    got = sorted(r.n_nationkey for r in hudi_cow_snapshot(spark, base).collect())
    assert got == list(range(12, 25))


def test_hudi_delete_no_match_commits_nothing(spark, tmp_path):
    base = str(tmp_path / "hnoop")
    _hudi_two_groups(spark, base)
    tl = os.path.join(base, ".hoodie")
    before = sorted(f for f in os.listdir(tl) if f.endswith(".commit"))
    _, n_rw = hudi_delete(spark, base, "n_nationkey = 9999")
    assert n_rw == 0
    assert sorted(f for f in os.listdir(tl) if f.endswith(".commit")) == before


def test_hudi_delete_pre_delete_state_time_travels(spark, tmp_path):
    """The pre-delete slices remain on disk: reconstructing state from
    commits <= the pre-delete instant reads all 25 rows."""
    base = str(tmp_path / "htt")
    _hudi_two_groups(spark, base)
    hudi_delete(spark, base, "n_regionkey = 1")
    tl = os.path.join(base, ".hoodie")
    instants = sorted(
        f[: -len(".commit")] for f in os.listdir(tl) if f.endswith(".commit")
    )
    groups: dict[str, str] = {}
    for ts in instants[:2]:  # state as of the second commit
        with open(os.path.join(tl, f"{ts}.commit")) as fh:
            for stats in json.load(fh)["partitionToWriteStats"].values():
                for ws in stats:
                    groups[ws["fileId"]] = ws["path"]
    df = spark.read.parquet(*[os.path.join(base, p) for p in groups.values()])
    assert df.count() == 25


# ------------------------------------------------ Hudi streaming tail


def _hudi_three_commits(spark, base):
    from pyspark.sql import functions as F

    n = _nation(spark)
    hudi_cow_upsert(spark, base, n.filter("n_nationkey < 12"), "n_nationkey")
    hudi_cow_upsert(spark, base, n.filter("n_nationkey >= 12"), "n_nationkey")
    upd = n.filter("n_nationkey < 3").withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("-U3"))
    )
    hudi_cow_upsert(spark, base, upd, "n_nationkey")


def test_incremental_window_excludes_survivor_rows(spark, tmp_path):
    """Instant 3's rewritten slice physically carries all 12 lo rows;
    the incremental read emits only the 3 upserted ones."""
    base = str(tmp_path / "inc")
    _hudi_three_commits(spark, base)
    reader = _make_hudi_tail_datasource()({"path": base}).streamReader(None)
    rows = _drain(
        reader,
        {"instant": "00000000000002"},
        {"instant": "00000000000003"},
    )
    assert sorted(r[0] for r in rows) == [0, 1, 2]
    assert all(r[1].endswith("-U3") for r in rows)
    # the window's slice plan is metadata-only: one rewritten slice
    assert len(_hudi_instant_files(base, "00000000000003")) == 1


def test_tail_replay_is_exact(spark, tmp_path):
    base = str(tmp_path / "replay")
    _hudi_three_commits(spark, base)
    reader = _make_hudi_tail_datasource()({"path": base}).streamReader(None)
    off = reader.latestOffset()
    assert off == {"instant": "00000000000003"}
    rows_all = sorted(_drain(reader, {"instant": ""}, off))
    assert len(rows_all) == 28  # 12 + 13 + 3
    # partial ranges compose and replay exactly (pure plan of the timeline)
    first = sorted(
        _drain(reader, {"instant": ""}, {"instant": "00000000000002"})
    )
    second = sorted(
        _drain(
            reader,
            {"instant": "00000000000002"},
            {"instant": "00000000000003"},
        )
    )
    assert sorted(first + second) == rows_all
    # round-14 pin: rows must not transit the driver — read() refuses
    # outside an executor task
    splits = reader.partitions({"instant": ""}, off)
    with pytest.raises(RuntimeError, match="must run on an executor"):
        reader.read(splits[0])


def test_tail_restart_drains_only_new_instants(spark, tmp_path):
    from pyspark.sql import functions as F

    base = str(tmp_path / "recover")
    n = _nation(spark)
    hudi_cow_upsert(spark, base, n.filter("n_nationkey < 12"), "n_nationkey")
    hudi_cow_upsert(spark, base, n.filter("n_nationkey >= 12"), "n_nationkey")
    spark.dataSource.register(_make_hudi_tail_datasource())
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def _run():
        q = (
            spark.readStream.format("hudi_incremental_tail")
            .option("path", base)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    _run()
    assert spark.read.parquet(out).count() == 25
    upd = n.filter("n_nationkey < 3").withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("-U3"))
    )
    hudi_cow_upsert(spark, base, upd, "n_nationkey")
    _run()
    run2 = spark.read.parquet(out).collect()
    assert len(run2) == 28  # exactly-once: no re-emit of the 25
    new = [r for r in run2 if r.commit_instant == "00000000000003"]
    assert sorted(r.n_nationkey for r in new) == [0, 1, 2]
