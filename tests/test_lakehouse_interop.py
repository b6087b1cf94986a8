"""Pins for round-6 batch BT: Delta writer/checkpoint mechanics, stats
skipping file counts, and Hudi timeline semantics."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    _build_hudi_fixture,
    _build_sink_fixture,
    _build_stats_fixture,
    delta_stats_prune,
    hudi_cow_snapshot,
)
from sap_cta_data_pipeline_spark.operators.delta_reader import delta_state
from sap_cta_data_pipeline_spark.operators.hudi_timeline import base_files


@pytest.fixture(scope="module")
def sink(spark, sf_dir):
    return _build_sink_fixture(spark, sf_dir)


@pytest.fixture(scope="module")
def stats_base(spark, sf_dir):
    return _build_stats_fixture(spark, sf_dir)


@pytest.fixture(scope="module")
def hudi(spark, sf_dir):
    return _build_hudi_fixture(spark, sf_dir)


def test_writer_log_is_spec_shaped(spark, sink):
    """Commit 0 must carry protocol + metaData + add; commit 1 add only."""
    log_dir = os.path.join(sink, "_delta_log")
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        a0 = [json.loads(l) for l in fh if l.strip()]
    assert [next(iter(a)) for a in a0] == ["protocol", "metaData", "add"]
    assert a0[0]["protocol"]["minReaderVersion"] == 1
    with open(os.path.join(log_dir, f"{1:020d}.json")) as fh:
        a1 = [json.loads(l) for l in fh if l.strip()]
    assert [next(iter(a)) for a in a1] == ["add"]
    live, schema_string, _, _, _ = delta_state(spark, sink)
    assert set(live) == {"part-00000-c0.parquet", "part-00000-c1.parquet"}
    assert "n_nationkey" in schema_string


def test_stats_prune_plans_exactly_two_files(spark, stats_base):
    planned, skipped = delta_stats_prune(spark, stats_base, "n_nationkey", 5, 9)
    assert planned == ["part-0.parquet", "part-1.parquet"]
    assert skipped == ["part-2.parquet"]
    # disjoint-below and disjoint-above predicates skip everything else
    planned2, skipped2 = delta_stats_prune(spark, stats_base, "n_nationkey", 20, 30)
    assert planned2 == ["part-2.parquet"]
    assert len(skipped2) == 2


def test_stats_missing_stats_planned_conservatively(spark, stats_base, tmp_path):
    import shutil

    clone = str(tmp_path / "nostats")
    shutil.copytree(stats_base, clone)
    # strip stats from one add action: that file must always be planned
    c0 = os.path.join(clone, "_delta_log", f"{0:020d}.json")
    with open(c0) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    for a in actions:
        if "add" in a:
            a["add"].pop("stats", None)
    with open(c0, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    planned, _ = delta_stats_prune(spark, clone, "n_nationkey", 20, 30)
    assert "part-0.parquet" in planned  # no stats → cannot skip


def test_hudi_latest_slice_per_group(hudi):
    groups = base_files(hudi)
    assert groups == {
        "fg-a": "fg-a_0-0-0_002.parquet",  # instant 002 rewrote fg-a
        "fg-b": "fg-b_0-0-0_001.parquet",
    }


def test_hudi_inflight_and_orphan_invisible(spark, hudi):
    rows = hudi_cow_snapshot(spark, hudi).collect()
    assert len(rows) == 25
    assert not any(r.n_name == "GARBAGE" or r.n_name.endswith("-old") for r in rows)
    # the debris really exists on disk
    assert os.path.exists(os.path.join(hudi, "fg-c_0-0-0_003.parquet"))
    assert os.path.exists(os.path.join(hudi, "orphan_0-0-0_000.parquet"))


def test_hudi_meta_columns_dropped(spark, hudi):
    df = hudi_cow_snapshot(spark, hudi)
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    raw = spark.read.parquet(os.path.join(hudi, "fg-b_0-0-0_001.parquet"))
    assert "_hoodie_commit_time" in raw.columns


def test_checkpoint_only_table_readable(spark, sink, tmp_path):
    """Log retention leaving checkpoint + zero JSON commits must still
    answer the latest snapshot (delta_state falls back to _last_checkpoint
    for the target version)."""
    import shutil

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        delta_checkpoint,
    )
    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_snapshot

    clone = str(tmp_path / "ckpt_only")
    shutil.copytree(sink, clone)
    delta_checkpoint(spark, clone)
    for f in os.listdir(os.path.join(clone, "_delta_log")):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(clone, "_delta_log", f))
    assert delta_snapshot(spark, clone).count() == 25


def test_column_mapping_physical_names_on_disk(spark, sf_dir):
    """The data files must NOT contain logical names — only the mapping
    in the schemaString metadata connects them."""
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_colmap_fixture,
    )

    base = _build_colmap_fixture(spark, sf_dir)
    raw = spark.read.parquet(os.path.join(base, "part-lo.parquet"))
    assert raw.columns == ["col-9f1a-key", "col-3c2b-name", "col-77d0-region"]
    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_snapshot

    df = delta_snapshot(spark, base)
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert df.count() == 25


def test_reader_v2_accepted_v3_still_rejected(spark, sf_dir):
    from sap_cta_data_pipeline_spark.operators.delta_reader import _check_protocol

    _check_protocol({"minReaderVersion": 2, "minWriterVersion": 5})
    _check_protocol(
        {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["columnMapping"]}
    )
    # deletionVectors (round 7) and v2Checkpoint (round 8) are
    # implemented — v3 rejection now applies to features this reader
    # does NOT implement
    _check_protocol(
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["deletionVectors", "v2Checkpoint"]}
    )
    with pytest.raises(ValueError, match="unsupported Delta reader protocol"):
        _check_protocol(
            {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["deletionVectors", "typeWidening"]}
        )


def test_commit_is_put_if_absent(tmp_path):
    """Two writers racing the same version: the loser must get
    CommitConflict — NEVER a silent clobber of the winner's commit."""
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        CommitConflict,
        _commit,
        _read_commit,
    )

    log_dir = str(tmp_path / "_delta_log")
    _commit(log_dir, 0, [{"commitInfo": {"writer": "a"}}])
    with pytest.raises(CommitConflict):
        _commit(log_dir, 0, [{"commitInfo": {"writer": "b"}}])
    # winner's content intact
    assert _read_commit(log_dir, 0) == [{"commitInfo": {"writer": "a"}}]


def test_append_retries_past_conflict(spark, sf_dir, tmp_path, monkeypatch):
    """delta_append_commit under a REAL race: a rival takes the exact
    version slot our append computed, AFTER it listed the log but BEFORE
    its put — the loser must retry at version+1 and land with both
    commits' files live. (Pre-committing rivals before the call never
    exercises the retry loop: the append lists the log after them and
    computes a free slot — the round-6 advice finding.)"""
    import shutil

    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators import delta_reader as dr
    from sap_cta_data_pipeline_spark.operators import lakehouse_interop as li
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        delta_snapshot,
        delta_state,
    )

    clone = str(tmp_path / "contended")
    shutil.copytree(li._build_sink_fixture(spark, sf_dir), clone)
    log_dir = os.path.join(clone, "_delta_log")
    n = load_table(spark, sf_dir, "nation").limit(3)
    extra = n.selectExpr("n_nationkey + 200 AS n_nationkey", "n_name", "n_regionkey")

    real_commit = dr._commit
    raced: dict[str, int] = {}

    def racing_commit(ld, version, actions):
        # the rival wins the slot in the list→put window, exactly once
        if "raced" not in raced:
            raced["raced"] = version
            real_commit(ld, version, [{"commitInfo": {"writer": "rival"}}])
        return real_commit(ld, version, actions)

    monkeypatch.setattr(dr, "_commit", racing_commit)
    li.delta_append_commit(spark, clone, extra, "ours.parquet")
    monkeypatch.undo()
    assert raced["raced"] == 2  # tip was 1 → first attempt at 2, lost
    live, _, _, _, _ = delta_state(spark, clone)
    assert "ours.parquet" in live
    assert delta_snapshot(spark, clone).count() == 25 + 3
    # and the winner's commit content is intact at the contested version
    with open(os.path.join(log_dir, f"{2:020d}.json")) as fh:
        assert json.loads(fh.readline())["commitInfo"]["writer"] == "rival"


def test_append_gives_up_after_ten_conflicts(spark, sf_dir, tmp_path, monkeypatch):
    import shutil

    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators import delta_reader as dr
    from sap_cta_data_pipeline_spark.operators import lakehouse_interop as li
    from sap_cta_data_pipeline_spark.operators.delta_reader import CommitConflict

    clone = str(tmp_path / "hopeless")
    shutil.copytree(li._build_sink_fixture(spark, sf_dir), clone)
    n = load_table(spark, sf_dir, "nation").limit(2)

    def always_lose(ld, version, actions):
        raise CommitConflict(f"version {version} taken")

    monkeypatch.setattr(dr, "_commit", always_lose)
    with pytest.raises(CommitConflict, match="gave up after 10"):
        li.delta_append_commit(spark, clone, n, "never.parquet")


def test_vacuum_deletes_exactly_the_unreferenced(spark, sf_dir, tmp_path):
    """Zero-retention vacuum on the 4-version fixture: the orphan goes,
    the union of all versions' live sets stays (a/b/d are referenced by
    RETAINED versions 0-2, so they survive zero-retention too — only
    truly unreferenced debris is deletable while its versions are
    retained); idempotent; latest snapshot unchanged; time travel keeps
    working because every retained version's files still exist."""
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _build_fixture,
        delta_snapshot,
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        delta_vacuum,
    )

    src = str(tmp_path / "vac_src")
    _build_fixture(spark, sf_dir, src)
    deleted, kept = delta_vacuum(spark, src)
    assert deleted == ["orphan.parquet"]
    assert set(kept) == {
        "part-a.parquet", "part-b.parquet", "part-c.parquet",
        "part-d.parquet", "part-e.parquet",
    }
    assert delta_vacuum(spark, src) == ([], sorted(kept))  # idempotent
    assert delta_snapshot(spark, src).count() == 25
    assert delta_snapshot(spark, src, version=0).count() == 25


def test_restore_preserves_history(spark, sf_dir, tmp_path):
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _build_fixture,
        delta_snapshot,
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        delta_restore,
    )

    base = str(tmp_path / "restore_t")
    _build_fixture(spark, sf_dir, base)
    delta_restore(spark, base, version=0)
    latest = delta_snapshot(spark, base).collect()
    assert sum(1 for r in latest if r.n_name.endswith("-old")) == 12
    # pre-restore states still time-travelable (restore is a commit)
    v3 = delta_snapshot(spark, base, version=3).collect()
    assert not any(r.n_name.endswith("-old") for r in v3)
    # restoring forward again (to v3's state) round-trips
    delta_restore(spark, base, version=3)
    assert not any(
        r.n_name.endswith("-old")
        for r in delta_snapshot(spark, base).collect()
    )


def test_shallow_clone_independence_and_lifetime(spark, sf_dir, tmp_path):
    """The clone forks metadata only: appending to the clone leaves the
    source unchanged; vacuuming the SOURCE deletes files the clone still
    references → the clone's scan fails LOUDLY (the shared-file-lifetime
    trade, pinned rather than papered over)."""
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators import lakehouse_interop as li
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _build_fixture,
        delta_snapshot,
    )

    src = str(tmp_path / "clone_src")
    _build_fixture(spark, sf_dir, src)
    dst = str(tmp_path / "clone_dst")
    li.delta_shallow_clone(spark, src, dst)
    assert delta_snapshot(spark, dst).count() == 25
    # clone evolves independently
    extra = load_table(spark, sf_dir, "nation").limit(3).selectExpr(
        "n_nationkey + 500 AS n_nationkey", "n_name", "n_regionkey"
    )
    li.delta_append_commit(spark, dst, extra, "clone-extra.parquet")
    assert delta_snapshot(spark, dst).count() == 28
    assert delta_snapshot(spark, src).count() == 25  # source untouched
    # source vacuum (zero retention) keeps only files still referenced BY
    # THE SOURCE; the clone's absolute-path adds survive only as long as
    # the source retains them — delete one retained source file to
    # simulate the post-retention hazard and pin the loud failure
    os.remove(os.path.join(src, "part-c.parquet"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        delta_snapshot(spark, dst).count()


def test_delete_dv_writer_mechanics(spark, sf_dir, tmp_path):
    """Round-8 DELETE writer: commit shape (protocol upgrade once,
    remove+re-add per affected file), union semantics on a second delete
    over the same file, and the reader's post-delete row set."""
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _read_commit,
        delta_snapshot,
        delta_state,
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_sink_fixture,
        delta_delete_where,
    )

    base = str(tmp_path / "del_dv")
    _sh.copytree(_build_sink_fixture(spark, sf_dir), base)
    v1, n1 = delta_delete_where(spark, base, "n_nationkey % 3 = 0")
    assert n1 == 9  # keys 0,3,...,24
    a = _read_commit(os.path.join(base, "_delta_log"), v1)
    kinds = [next(iter(x)) for x in a]
    assert kinds[0] == "commitInfo" and "protocol" in kinds
    assert kinds.count("remove") == 2 and kinds.count("add") == 2  # both files hit
    adds = [x["add"] for x in a if "add" in x]
    assert all(x["deletionVector"]["storageType"] == "u" for x in adds)

    # second delete: key 7 lives in the lo file which ALREADY has a DV —
    # new descriptor must carry the UNION cardinality, no protocol action
    v2, n2 = delta_delete_where(spark, base, "n_nationkey = 7")
    assert n2 == 1
    a2 = _read_commit(os.path.join(base, "_delta_log"), v2)
    assert "protocol" not in [next(iter(x)) for x in a2]
    (add2,) = [x["add"] for x in a2 if "add" in x]
    assert add2["deletionVector"]["cardinality"] == 5  # {0,3,6,9}∪{7}

    # deleting already-deleted rows is a no-op commit-wise
    v3, n3 = delta_delete_where(spark, base, "n_nationkey = 7")
    assert n3 == 0 and v3 == v2

    got = sorted(r.n_nationkey for r in delta_snapshot(spark, base).collect())
    assert got == [k for k in range(25) if k % 3 != 0 and k != 7]
    # time travel pre-delete still answers the full table
    assert delta_snapshot(spark, base, version=1).count() == 25


def test_delete_dv_vacuum_interaction(spark, sf_dir, tmp_path):
    """The verdict's pin: after log retention drops the pre-delete
    versions, VACUUM keeps the DV'd DATA files (still live) and the
    CURRENT DV file, and deletes the SUPERSEDED DV file from delete #1
    (no retained version references it anymore)."""
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _COMMIT_RE as _CRE,
        delta_snapshot,
    )
    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_checkpoint
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_sink_fixture,
        delta_delete_where,
        delta_vacuum,
    )

    base = str(tmp_path / "del_dv_vac")
    _sh.copytree(_build_sink_fixture(spark, sf_dir), base)
    # delete #1 touches ONLY the lo file; delete #2 re-DVs BOTH files, so
    # delete #1's DV file serves no live descriptor afterwards — that is
    # what makes it superseded (a DV file is vacuum-eligible only when NO
    # live add references it; a partial overlap keeps it alive)
    delta_delete_where(spark, base, "n_nationkey = 7")
    dv_files_after_1 = sorted(
        f for f in os.listdir(base) if f.startswith("deletion_vector")
    )
    delta_delete_where(spark, base, "n_nationkey % 3 = 0")
    dv_files_after_2 = sorted(
        f for f in os.listdir(base) if f.startswith("deletion_vector")
    )
    assert len(dv_files_after_2) == 2
    superseded = set(dv_files_after_1)
    current = set(dv_files_after_2) - superseded

    # while every version is retained, NOTHING is vacuum-eligible
    deleted, kept = delta_vacuum(spark, base)
    assert deleted == []

    # log retention: checkpoint the tip, drop all JSON commits
    log_dir = os.path.join(base, "_delta_log")
    v = delta_checkpoint(spark, base)
    for f in list(os.listdir(log_dir)):
        if _CRE.match(f):
            os.remove(os.path.join(log_dir, f))
    deleted, kept = delta_vacuum(spark, base)
    assert sorted(deleted) == sorted(superseded)  # old DV file goes
    assert set(kept) >= {"part-00000-c0.parquet", "part-00000-c1.parquet"}
    assert current <= set(kept)  # live DV file survives
    got = sorted(r.n_nationkey for r in delta_snapshot(spark, base).collect())
    assert got == [k for k in range(25) if k % 3 != 0 and k != 7]


def test_restore_carries_dv_metadata(spark, sf_dir, tmp_path):
    """ADVICE fix pin: restore diffs FULL add metadata. Restoring a DV'd
    table to its pre-delete version clears the DV (deleted rows come
    back); restoring forward to the DV'd version re-applies the target's
    descriptor (rows deleted again). A path-set-only diff would answer
    both reads wrong."""
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_snapshot
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_sink_fixture,
        delta_delete_where,
        delta_restore,
    )

    base = str(tmp_path / "restore_dv")
    _sh.copytree(_build_sink_fixture(spark, sf_dir), base)
    dv_version, _ = delta_delete_where(spark, base, "n_nationkey % 3 = 0")
    assert delta_snapshot(spark, base).count() == 16

    delta_restore(spark, base, version=dv_version - 1)  # pre-delete
    assert delta_snapshot(spark, base).count() == 25  # DV cleared

    delta_restore(spark, base, version=dv_version)  # forward to DV'd state
    got = sorted(r.n_nationkey for r in delta_snapshot(spark, base).collect())
    assert got == [k for k in range(25) if k % 3 != 0]  # DV re-applied


def test_shallow_clone_rewrites_sidecar_dv_descriptors(spark, sf_dir, tmp_path):
    """ADVICE fix pin: cloning a table whose live adds carry sidecar
    ('u') DV descriptors must rewrite them to absolute 'p' descriptors —
    verbatim copies resolve against the CLONE root and fail loudly."""
    import json as _json
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _read_commit,
        delta_snapshot,
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_sink_fixture,
        delta_delete_where,
        delta_shallow_clone,
    )

    src = str(tmp_path / "clone_dv_src")
    _sh.copytree(_build_sink_fixture(spark, sf_dir), src)
    delta_delete_where(spark, src, "n_nationkey % 3 = 0")
    dst = str(tmp_path / "clone_dv_dst")
    delta_shallow_clone(spark, src, dst)
    adds = [
        a["add"]
        for a in _read_commit(os.path.join(dst, "_delta_log"), 0)
        if "add" in a
    ]
    for a in adds:
        d = a.get("deletionVector")
        assert d is not None and d["storageType"] == "p"
        assert os.path.isabs(d["pathOrInlineDv"]) and os.path.exists(
            d["pathOrInlineDv"]
        )
    got = sorted(r.n_nationkey for r in delta_snapshot(spark, dst).collect())
    assert got == [k for k in range(25) if k % 3 != 0]


def test_optimize_preserves_history_and_clears_dvs(spark, sf_dir, tmp_path):
    """OPTIMIZE pins: dataChange:false on every action, DV descriptors
    gone from the live state, pre-OPTIMIZE version still answers with
    its DVs applied, and the compacted table reads identically."""
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _read_commit,
        delta_snapshot,
        delta_state,
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_sink_fixture,
        delta_delete_where,
        delta_optimize_compact,
    )

    base = str(tmp_path / "opt_dv")
    _sh.copytree(_build_sink_fixture(spark, sf_dir), base)
    dv_version, _ = delta_delete_where(spark, base, "n_nationkey % 3 = 0")
    v = delta_optimize_compact(spark, base)
    a = _read_commit(os.path.join(base, "_delta_log"), v)
    assert all(
        x.get("remove", x.get("add", {})).get("dataChange") is False
        for x in a
        if "remove" in x or "add" in x
    )
    live, _, _, _, dvs = delta_state(spark, base)
    assert live and dvs == {}  # compacted: no DV survives in live state
    got = sorted(r.n_nationkey for r in delta_snapshot(spark, base).collect())
    assert got == [k for k in range(25) if k % 3 != 0]
    pre = sorted(
        r.n_nationkey
        for r in delta_snapshot(spark, base, version=dv_version).collect()
    )
    assert pre == got  # pre-OPTIMIZE version: same content via DVs


def test_partitioned_writer_prunes_and_hides_partition_col(spark, sf_dir):
    """The partitioned writer's files must NOT contain the partition
    column (protocol: it lives in partitionValues only), and a
    partition_filter read plans exactly that partition's file."""
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        sink_delta_append_partitioned,
    )
    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_snapshot
    from sap_cta_data_pipeline_spark.operators.sources import _scratch

    sink_delta_append_partitioned(spark, sf_dir)  # ensure fixture
    base = _scratch(sf_dir, "delta_sink_part")
    raw = spark.read.parquet(os.path.join(base, "n_regionkey=2", "part-00000.parquet"))
    assert "n_regionkey" not in raw.columns
    df = delta_snapshot(spark, base, partition_filter={"n_regionkey": "2"})
    assert df.count() == 5
    assert all("n_regionkey=2" in f for f in df.inputFiles())


def test_alter_add_column_history(spark, sf_dir):
    """Time travel to the pre-ALTER version answers the ORIGINAL
    3-column schema."""
    from sap_cta_data_pipeline_spark.registry import QUERIES
    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_snapshot
    from sap_cta_data_pipeline_spark.operators.sources import _scratch

    QUERIES["delta_alter_add_column"](spark, sf_dir).count()  # ensure fixture
    base = _scratch(sf_dir, "delta_sink_alter")
    v0 = delta_snapshot(spark, base, version=0)
    assert v0.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert v0.count() == 12


def test_checkpoint_auto_layout_selection(spark, sf_dir, tmp_path):
    """Round-9 pin: delta_checkpoint with no layout argument stays
    CLASSIC under the row budget and flips to MULTI-PART (with
    ceil(rows/part_rows) parts named in _last_checkpoint) above it."""
    import json as _json
    import shutil as _shutil

    from sap_cta_data_pipeline_spark.operators.delta_reader import delta_checkpoint
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_sink_fixture,
    )

    base = _build_sink_fixture(spark, sf_dir)

    # under budget -> classic single file
    c1 = str(tmp_path / "classic")
    _shutil.copytree(base, c1)
    v = delta_checkpoint(spark, c1)  # default budget 100k >> 4 rows
    log1 = os.path.join(c1, "_delta_log")
    assert os.path.exists(os.path.join(log1, f"{v:020d}.checkpoint.parquet"))
    with open(os.path.join(log1, "_last_checkpoint")) as fh:
        assert "parts" not in _json.load(fh)

    # over budget -> auto multi-part
    c2 = str(tmp_path / "auto")
    _shutil.copytree(base, c2)
    v = delta_checkpoint(spark, c2, part_rows=2)
    log2 = os.path.join(c2, "_delta_log")
    with open(os.path.join(log2, "_last_checkpoint")) as fh:
        lc = _json.load(fh)
    assert lc.get("parts", 0) >= 2
    for i in range(1, lc["parts"] + 1):
        assert os.path.exists(
            os.path.join(
                log2,
                f"{v:020d}.checkpoint.{i:010d}.{lc['parts']:010d}.parquet",
            )
        )
    assert not os.path.exists(os.path.join(log2, f"{v:020d}.checkpoint.parquet"))
