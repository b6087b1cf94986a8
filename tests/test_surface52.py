"""Batch FY pins — Hudi cleaner + archival: physical deletion, the
keep-oldest-serving-slice rule, retention-fence refusal, archival
ordering guarantees, and inflight-slice invisibility."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.operators.hudi_timeline import (
    _archived_instants,
    _completed_commits,
    _retention_fence,
    _timeline_dir,
    base_files,
    hudi_archive_timeline,
    hudi_clean,
    slice_history,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    hudi_cow_snapshot,
)
from sap_cta_data_pipeline_spark.operators.surface52 import _build_cleaner_fixture

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def table(spark, tmp_path, monkeypatch):
    # route _scratch under tmp_path so each test owns a fresh table
    import sap_cta_data_pipeline_spark.operators.sources as m

    monkeypatch.setattr(
        m, "_scratch", lambda sf, name: str(tmp_path / name)
    )
    base, instants = _build_cleaner_fixture(spark, SF)
    return base, instants


def test_clean_deletes_only_superseded_slices(spark, table):
    base, (i1, i2, i3, i4) = table
    before = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    meta = hudi_clean(base, retain_commits=2)
    assert meta["earliestCommitToRetain"] == i3
    # group A's slice@i1 deleted; A@i3, A@i4, B@i2 survive
    assert len(meta["deleted"]) == 1 and i1 in meta["deleted"][0]
    assert not os.path.exists(os.path.join(base, meta["deleted"][0]))
    slices = slice_history(base)
    a_fid = f"fg-i{i1}"
    assert sorted(slices[a_fid]) == [i3, i4]
    assert sorted(slices[f"fg-i{i2}"]) == [i2]  # still serves every view
    after = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    assert before == after  # cleaning never changes the snapshot


def test_time_travel_before_fence_refuses(spark, table):
    base, (i1, i2, i3, i4) = table
    hudi_clean(base, retain_commits=2)
    # at/after the fence still serves
    assert hudi_cow_snapshot(spark, base, as_of=i3).count() == 25
    assert hudi_cow_snapshot(spark, base, as_of=i4).count() == 25
    with pytest.raises(ValueError, match="cleaner retained"):
        base_files(base, as_of=i2)
    with pytest.raises(ValueError, match="cleaner retained"):
        base_files(base, as_of=i1)


def test_fence_view_is_the_pre_revert_state(spark, table):
    """as_of the fence (i3) shows the -TMP names: the cleaner kept
    exactly the slice needed to serve the earliest retained view."""
    base, (i1, i2, i3, i4) = table
    hudi_clean(base, retain_commits=2)
    rows = {r.n_nationkey: r.n_name for r in
            hudi_cow_snapshot(spark, base, as_of=i3).collect()}
    assert all(v.endswith("-TMP") for k, v in rows.items() if k < 12)
    assert not any(v.endswith("-TMP") for k, v in rows.items() if k >= 12)


def test_archival_requires_prior_clean(spark, table):
    base, _ = table
    with pytest.raises(ValueError, match="run\n?.*cleaner first|cleaner first"):
        hudi_archive_timeline(base)


def test_archival_preserves_snapshot_and_bounds_timeline(spark, table):
    base, (i1, i2, i3, i4) = table
    hudi_clean(base, retain_commits=2)
    before = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    moved = hudi_archive_timeline(base)
    assert moved == [i1, i2]
    tl = _timeline_dir(base)
    assert _completed_commits(tl) == [i3, i4]
    arch = _archived_instants(tl)
    assert [a["instant"] for a in arch] == [i1, i2]
    # archived metadata is the full original commit JSON
    assert "partitionToWriteStats" in arch[0]["meta"]
    after = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    assert before == after
    # idempotent second archive: nothing left below the fence
    assert hudi_archive_timeline(base) == []


def test_inflight_slice_invisible(spark, table):
    """A parquet staged by an incomplete instant must not reach any
    view — completeness gates filesystem discovery."""
    base, (i1, i2, i3, i4) = table
    tl = _timeline_dir(base)
    ghost = "99999999999999"
    src = next(f for f in os.listdir(base) if f.endswith(".parquet"))
    import shutil

    shutil.copy(
        os.path.join(base, src),
        os.path.join(base, f"fg-ghost_0-0-0_{ghost}.parquet"),
    )
    open(os.path.join(tl, f"{ghost}.inflight"), "w").close()
    state = base_files(base)
    assert "fg-ghost" not in state
    assert hudi_cow_snapshot(spark, base).count() == 25


def test_clean_ignores_inflight_slice(spark, table):
    """A crashed/inflight writer's slice below the fence must neither
    become a group's kept 'latest' nor trigger deletion of the
    completed slice it would supersede (round-10 ADVICE fix: the
    cleaner now shares the reader's completeness gate)."""
    import shutil

    base, (i1, i2, i3, i4) = table
    tl = _timeline_dir(base)
    # ghost instant sorts BETWEEN i2 and the fence (i3) lexicographically
    ghost = i2 + "5"
    b_fid = f"fg-i{i2}"
    b_slice = slice_history(base)[b_fid][i2]
    ghost_slice = f"{b_fid}_0-0-0_{ghost}.parquet"
    shutil.copy(os.path.join(base, b_slice), os.path.join(base, ghost_slice))
    open(os.path.join(tl, f"{ghost}.inflight"), "w").close()
    before = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    meta = hudi_clean(base, retain_commits=2)
    # group B's completed slice survives; only A's superseded i1 goes
    assert os.path.exists(os.path.join(base, b_slice))
    assert len(meta["deleted"]) == 1 and i1 in meta["deleted"][0]
    # the ghost itself is untouched (its writer may still complete)
    assert os.path.exists(os.path.join(base, ghost_slice))
    after = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    assert before == after


def test_archival_crash_rerun_does_not_duplicate(spark, table):
    """Crash between 'archive line flushed' and '.commit removed':
    the re-run must not append a duplicate JSONL record and must
    finish the interrupted move (round-10 ADVICE fix)."""
    base, (i1, i2, i3, i4) = table
    tl = _timeline_dir(base)
    hudi_clean(base, retain_commits=2)
    assert hudi_archive_timeline(base) == [i1, i2]
    # simulate the crash aftermath: i1's archive line is durable but its
    # active .commit never got removed
    arch = _archived_instants(tl)
    open(os.path.join(tl, f"{i1}.commit"), "w").write(
        json.dumps(arch[0]["meta"])
    )
    moved = hudi_archive_timeline(base)
    assert moved == []  # nothing NEWLY archived
    assert not os.path.exists(os.path.join(tl, f"{i1}.commit"))  # move done
    after = _archived_instants(tl)
    assert [a["instant"] for a in after] == [i1, i2]  # no duplicates


def test_archived_instants_stay_in_the_view_and_the_instant_count(spark, table):
    """Group B's only slice was written by i2, which archival moves out
    of the active timeline: the CoW snapshot must still read it, and the
    next upsert must take the instant after the clean's (not reuse it)
    and update key 20 in place."""
    from pyspark.sql import functions as F

    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.hudi_write import hudi_cow_upsert

    base, (i1, i2, i3, i4) = table
    before = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    hudi_clean(base, retain_commits=2)
    hudi_archive_timeline(base)
    after = sorted(map(tuple, hudi_cow_snapshot(spark, base).collect()))
    assert len(after) == 25 and after == before
    n = load_table(spark, SF, "nation").select("n_nationkey", "n_name", "n_regionkey")
    upd = n.filter("n_nationkey = 20").withColumn("n_name", F.lit("TWENTY"))
    assert hudi_cow_upsert(spark, base, upd, "n_nationkey") == "00000000000006"
    rows = hudi_cow_snapshot(spark, base).collect()
    assert len(rows) == 25
    assert [r.n_name for r in rows if r.n_nationkey == 20] == ["TWENTY"]


def test_reads_never_create_a_table(spark, tmp_path):
    """A path without ``.hoodie`` is no table: reading it, or running a
    table service on it, raises naming the path and creates nothing."""
    missing = str(tmp_path / "absent")
    for read in (
        base_files,
        lambda p: hudi_cow_snapshot(spark, p),
        lambda p: hudi_clean(p, retain_commits=2),
    ):
        with pytest.raises(FileNotFoundError, match=missing):
            read(missing)
    assert not os.path.exists(missing)
