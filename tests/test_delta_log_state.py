"""The Delta log state survives a checkpoint: every loss below was
measured on a table whose JSON commits were deleted after a checkpoint
(the state the checkpoint-destruction fixtures build), or on the sizes
its writers recorded.

Each test works on a private copy of an existing fixture."""

from __future__ import annotations

import os
import shutil

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators import lakehouse_interop as li
from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _COMMIT_RE,
    _build_dv_fixture,
    _read_commit,
    delta_checkpoint,
    delta_snapshot,
    log_state,
)
from sap_cta_data_pipeline_spark.operators.sources import READY
from sap_cta_data_pipeline_spark.operators.surface26 import (
    delta_last_txn_version,
    delta_txn_write,
)
from sap_cta_data_pipeline_spark.operators.surface53 import (
    _build_row_tracking_fixture,
    read_with_row_tracking,
    row_tracking_files,
)


def _copy(src: str, dst) -> str:
    shutil.copytree(src, str(dst), ignore=shutil.ignore_patterns(READY))
    return str(dst)


def _checkpoint_and_trim(spark, base: str) -> int:
    """Checkpoint the tip, then delete every JSON commit it covers."""
    v = delta_checkpoint(spark, base)
    log_dir = os.path.join(base, "_delta_log")
    for f in os.listdir(log_dir):
        if (m := _COMMIT_RE.match(f)) and int(m.group(1)) <= v:
            os.remove(os.path.join(log_dir, f))
    return v


def _nation(spark, sf_dir, where: str):
    return (
        load_table(spark, sf_dir, "nation")
        .filter(where)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


def test_every_add_records_its_file_size(spark, sf_dir, tmp_path):
    """PROTOCOL.md: ``size`` is the data file's size in bytes — in each
    commit and in the checkpoint that replaces them."""
    base = _copy(li._build_sink_fixture(spark, sf_dir), tmp_path / "sizes")
    log_dir = os.path.join(base, "_delta_log")
    adds = [
        a["add"]
        for f in sorted(os.listdir(log_dir))
        if (m := _COMMIT_RE.match(f))
        for a in _read_commit(log_dir, int(m.group(1)))
        if "add" in a
    ]
    assert len(adds) == 2
    for a in adds:
        assert a["size"] == os.path.getsize(os.path.join(base, a["path"]))
    v = _checkpoint_and_trim(spark, base)
    rows = (
        spark.read.parquet(os.path.join(log_dir, f"{v:020d}.checkpoint.parquet"))
        .filter("add IS NOT NULL")
        .select("add.path", "add.size")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r["size"] == os.path.getsize(os.path.join(base, r["path"]))


def test_append_after_trim_lands_after_the_checkpoint(spark, sf_dir, tmp_path):
    base = _copy(li._build_sink_fixture(spark, sf_dir), tmp_path / "append")
    assert _checkpoint_and_trim(spark, base) == 1
    extra = _nation(spark, sf_dir, "n_nationkey < 3").selectExpr(
        "n_nationkey + 100 AS n_nationkey", "n_name", "n_regionkey"
    )
    li.delta_append_commit(spark, base, extra, "extra.parquet")
    assert os.path.exists(os.path.join(base, "_delta_log", f"{2:020d}.json"))
    assert delta_snapshot(spark, base).count() == 28


def test_second_checkpoint_after_trim(spark, sf_dir, tmp_path):
    base = _copy(li._build_sink_fixture(spark, sf_dir), tmp_path / "twice")
    _checkpoint_and_trim(spark, base)
    extra = _nation(spark, sf_dir, "n_nationkey < 3").selectExpr(
        "n_nationkey + 100 AS n_nationkey", "n_name", "n_regionkey"
    )
    li.delta_append_commit(spark, base, extra, "extra.parquet")
    assert _checkpoint_and_trim(spark, base) == 2
    assert not any(
        _COMMIT_RE.match(f) for f in os.listdir(os.path.join(base, "_delta_log"))
    )
    assert delta_snapshot(spark, base).count() == 28


def test_stats_pruning_survives_trim_restore_and_clone(spark, sf_dir, tmp_path):
    """The checkpoint keeps each add's stats; RESTORE and SHALLOW CLONE
    re-emit the replayed add, so they keep them too."""
    base = _copy(li._build_stats_fixture(spark, sf_dir), tmp_path / "stats")
    want = ["part-0.parquet", "part-1.parquet"]
    _checkpoint_and_trim(spark, base)
    assert li.delta_stats_prune(spark, base, "n_nationkey", 5, 9)[0] == want
    # OPTIMIZE writes one stats-less file, RESTORE brings the three back
    v = li.delta_optimize_compact(spark, base)
    assert len(li.delta_stats_prune(spark, base, "n_nationkey", 5, 9)[0]) == 1
    li.delta_restore(spark, base, version=v - 1)
    assert li.delta_stats_prune(spark, base, "n_nationkey", 5, 9)[0] == want
    clone = str(tmp_path / "stats_clone")
    li.delta_shallow_clone(spark, base, clone)
    planned, _ = li.delta_stats_prune(spark, clone, "n_nationkey", 5, 9)
    assert [os.path.basename(p) for p in planned] == want
    assert delta_snapshot(spark, clone).count() == 25


def test_txn_redelivery_after_trim_is_skipped(spark, sf_dir, tmp_path):
    """A checkpoint carries each appId's latest txn (PROTOCOL.md
    'Transaction Identifiers'), so exactly-once survives log retention."""
    base = str(tmp_path / "txn")
    lo = _nation(spark, sf_dir, "n_nationkey < 5")
    hi = _nation(spark, sf_dir, "n_nationkey >= 5")
    assert delta_txn_write(spark, base, lo, "t1.parquet", "app", 1, first=True)
    assert delta_txn_write(spark, base, hi, "t2.parquet", "app", 2)
    li.delta_append_commit(
        spark, base, lo.limit(1).selectExpr(
            "n_nationkey + 100 AS n_nationkey", "n_name", "n_regionkey"
        ), "plain.parquet"
    )
    _checkpoint_and_trim(spark, base)
    assert not delta_txn_write(spark, base, hi, "t2-again.parquet", "app", 2)
    assert delta_snapshot(spark, base).count() == 26
    assert delta_last_txn_version(spark, base, "app") == 2


def test_row_tracking_after_trim(spark, sf_dir, tmp_path):
    base = str(tmp_path / "rt")
    _build_row_tracking_fixture(spark, sf_dir, base)
    rows = sorted(map(tuple, read_with_row_tracking(spark, base).collect()))
    files = row_tracking_files(spark, base)
    _checkpoint_and_trim(spark, base)
    assert sorted(map(tuple, read_with_row_tracking(spark, base).collect())) == rows
    assert row_tracking_files(spark, base) == files


def test_clone_of_checkpoint_only_dv_table_keeps_protocol(spark, sf_dir, tmp_path):
    """The clone's deletion-vector adds need reader 3 / writer 7."""
    base = str(tmp_path / "dv")
    _build_dv_fixture(spark, sf_dir, base)
    _checkpoint_and_trim(spark, base)
    clone = str(tmp_path / "dv_clone")
    li.delta_shallow_clone(spark, base, clone)
    (proto,) = [
        a["protocol"]
        for a in _read_commit(os.path.join(clone, "_delta_log"), 0)
        if "protocol" in a
    ]
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (3, 7)
    assert log_state(spark, clone).protocol == log_state(spark, base).protocol
    keys = sorted(r.n_nationkey for r in delta_snapshot(spark, clone).collect())
    assert keys == [k for k in range(25) if k not in (1, 3, 5, 12, 14)]
    assert proto["readerFeatures"] == ["deletionVectors"]
