"""Pins for the Delta-protocol reader (round-5 batch BN).

Beyond the oracled lanes, these pin the protocol mechanics themselves:
checkpoint fast-path (readable with the pre-checkpoint commits DELETED),
every historical version, orphan invisibility, and metadata file
skipping (exactly one file planned for a one-partition query).
"""

from __future__ import annotations

import json
import os
import shutil
from functools import partial

import pytest

from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _build_fixture,
    _build_partitioned_fixture,
    delta_snapshot,
    delta_state,
)
from sap_cta_data_pipeline_spark.operators.sources import built


@pytest.fixture(scope="module")
def base(spark, sf_dir):
    return built(sf_dir, "delta_table", partial(_build_fixture, spark, sf_dir))


@pytest.fixture(scope="module")
def pbase(spark, sf_dir):
    return built(
        sf_dir, "delta_table_part", partial(_build_partitioned_fixture, spark, sf_dir)
    )


def test_every_version_pinned(spark, base):
    """v0 = '-old' names for keys < 12; v1/v2/v3 all equal clean nation
    (each later commit rewrites one half with identical content)."""
    v0 = delta_snapshot(spark, base, version=0).collect()
    assert len(v0) == 25
    assert all(r.n_name.endswith("-old") for r in v0 if r.n_nationkey < 12)
    assert all(not r.n_name.endswith("-old") for r in v0 if r.n_nationkey >= 12)
    for v in (1, 2, 3):
        rows = delta_snapshot(spark, base, version=v).collect()
        assert len(rows) == 25
        assert not any("-old" in r.n_name or r.n_name == "GARBAGE" for r in rows)


def test_orphan_file_invisible(spark, base):
    rows = delta_snapshot(spark, base).collect()
    assert len(rows) == 25
    assert not any(r.n_name == "GARBAGE" for r in rows)
    assert os.path.exists(os.path.join(base, "orphan.parquet"))  # debris exists


def test_checkpoint_fast_path_survives_commit_deletion(spark, base, tmp_path):
    """The latest snapshot must be reconstructible from checkpoint +
    post-checkpoint commits ALONE — copy the table, delete commits 0–2,
    and read: if the reader were replaying JSON from 0 it would fail or
    return the wrong file set; via the checkpoint it returns clean
    nation."""
    clone = str(tmp_path / "delta_clone")
    shutil.copytree(base, clone)
    for v in (0, 1, 2):
        os.remove(os.path.join(clone, "_delta_log", f"{v:020d}.json"))
    rows = delta_snapshot(spark, clone).collect()
    assert len(rows) == 25
    assert not any("-old" in r.n_name or r.n_name == "GARBAGE" for r in rows)


def test_state_live_set_exact(spark, base):
    live, schema_string, part_cols, _, _ = delta_state(spark, base)
    assert set(live) == {"part-c.parquet", "part-e.parquet"}
    assert part_cols == []
    assert "n_nationkey" in schema_string
    live0, _, _, _, _ = delta_state(spark, base, version=0)
    assert set(live0) == {"part-a.parquet", "part-b.parquet"}


def test_partition_prune_plans_exactly_one_file(spark, pbase):
    """File skipping happens in METADATA: the filtered state holds one
    file of five, before any scan is planned."""
    live_all, _, part_cols, _, _ = delta_state(spark, pbase)
    assert len(live_all) == 5
    assert part_cols == ["n_regionkey"]
    df = delta_snapshot(spark, pbase, partition_filter={"n_regionkey": "2"})
    files = df.inputFiles()
    assert len(files) == 1
    assert "n_regionkey=2" in files[0]


def test_partition_column_reconstructed(spark, pbase):
    """Data files lack n_regionkey entirely; the reader must rebuild it
    from partitionValues with the schemaString's integer type."""
    raw = spark.read.parquet(os.path.join(pbase, "n_regionkey=2", "part-0.parquet"))
    assert "n_regionkey" not in raw.columns
    df = delta_snapshot(spark, pbase)
    assert dict(df.dtypes)["n_regionkey"] == "int"
    assert df.filter(df.n_regionkey == 2).count() == 5
    assert df.count() == 25


def test_last_checkpoint_names_real_file(base):
    with open(os.path.join(base, "_delta_log", "_last_checkpoint")) as fh:
        lc = json.load(fh)
    assert os.path.exists(
        os.path.join(base, "_delta_log", f"{lc['version']:020d}.checkpoint.parquet")
    )


# ------------------------------------------------- round-6 protocol guards


def _clone(base, tmp_path, name):
    clone = str(tmp_path / name)
    shutil.copytree(base, clone)
    return clone


def test_unsupported_reader_version_raises(spark, base, tmp_path):
    """PROTOCOL.md reader gate: a table demanding a reader v3 feature this
    reader does NOT implement (e.g. typeWidening) must FAIL, not be
    silently misread. deletionVectors + columnMapping + v2Checkpoint ARE
    implemented, so a v3 table listing only those passes the gate."""
    clone = _clone(base, tmp_path, "delta_v3")
    log_dir = os.path.join(clone, "_delta_log")
    with open(os.path.join(log_dir, f"{4:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors", "typeWidening"],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="unsupported Delta reader protocol"):
        delta_state(spark, clone)
    # historical versions before the upgrade stay readable
    assert len(delta_state(spark, clone, version=3)[0]) == 2


def test_v3_supported_features_pass_gate(spark, base, tmp_path):
    """A v3 protocol whose readerFeatures ⊆ {columnMapping,
    deletionVectors} is readable (the round-7 DV lane); a v3 protocol
    with EMPTY readerFeatures is malformed per the spec and refused."""
    clone = _clone(base, tmp_path, "delta_v3_ok")
    log_dir = os.path.join(clone, "_delta_log")
    with open(os.path.join(log_dir, f"{4:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors", "columnMapping"],
                    }
                }
            )
            + "\n"
        )
    live, _, _, _, _ = delta_state(spark, clone)
    assert set(live) == {"part-c.parquet", "part-e.parquet"}
    with pytest.raises(ValueError, match="unsupported Delta reader protocol"):
        from sap_cta_data_pipeline_spark.operators.delta_reader import (
            _check_protocol,
        )

        _check_protocol({"minReaderVersion": 3, "minWriterVersion": 7})


def test_time_travel_past_latest_raises(spark, base):
    with pytest.raises(ValueError, match="cannot time travel"):
        delta_state(spark, base, version=99)


def test_multipart_checkpoint_incomplete_raises(spark, base, tmp_path):
    """Round 8: multi-part checkpoints READ now (scan_delta_checkpoint_
    multipart is the green path); the guarded failure is an INCOMPLETE
    part set — _last_checkpoint says parts=2 but the part files are
    absent — which must raise, never silently under-read the state."""
    clone = _clone(base, tmp_path, "delta_parts")
    lc_path = os.path.join(clone, "_delta_log", "_last_checkpoint")
    with open(lc_path) as fh:
        lc = json.load(fh)
    lc["parts"] = 2
    with open(lc_path, "w") as fh:
        json.dump(lc, fh)
    with pytest.raises(FileNotFoundError, match="missing 2/2 parts"):
        delta_state(spark, clone)


def test_missing_protocol_action_raises(spark, base, tmp_path):
    """A log with no protocol action anywhere in the replayed range is
    malformed; reading it would skip the reader-version gate entirely."""
    clone = _clone(base, tmp_path, "delta_noproto")
    log_dir = os.path.join(clone, "_delta_log")
    c0 = os.path.join(log_dir, f"{0:020d}.json")
    with open(c0) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    with open(c0, "w") as fh:
        for a in actions:
            if "protocol" not in a:
                fh.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="no protocol action"):
        delta_state(spark, clone, version=0)


def test_url_encoded_add_path_decoded(spark, base, tmp_path):
    """add.path is a percent-encoded relative URI per the spec: an
    encoded name must resolve to the on-disk file."""
    clone = _clone(base, tmp_path, "delta_urlenc")
    shutil.copy(
        os.path.join(clone, "part-e.parquet"),
        os.path.join(clone, "part e.parquet"),
    )
    log_dir = os.path.join(clone, "_delta_log")
    with open(os.path.join(log_dir, f"{4:020d}.json"), "w") as fh:
        fh.write(
            json.dumps({"remove": {"path": "part-e.parquet", "dataChange": True}})
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": "part%20e.parquet",
                        "partitionValues": {},
                        "size": 1024,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    live, _, _, _, _ = delta_state(spark, clone)
    assert "part e.parquet" in live
    assert delta_snapshot(spark, clone).count() == 25


def test_empty_live_set_returns_empty_frame(spark, base, tmp_path):
    """Filter matching no files / fully-deleted version: empty DataFrame
    with the table schema, not an IndexError."""
    df = delta_snapshot(spark, base, partition_filter={"nope": "x"})
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
    ]


def test_cdf_requires_flag_and_range_guard(spark, sf_dir, tmp_path):
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _build_cdf_fixture,
        _build_fixture,
            delta_table_changes,
    )

    # the plain fixture never enabled CDF → refuse
    plain = built(sf_dir, "delta_table", partial(_build_fixture, spark, sf_dir))
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        delta_table_changes(spark, plain)
    cdf = built(sf_dir, "delta_table_cdf", partial(_build_cdf_fixture, spark, sf_dir))
    with pytest.raises(ValueError, match="outside retained commits"):
        delta_table_changes(spark, cdf, start=0, end=99)


def test_cdf_version_subrange(spark, sf_dir):
    """start/end bound the feed: [1,1] yields only the cdc-file rows —
    10 rows, never the rewrite's 25+25 derived noise."""
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _build_cdf_fixture,
            delta_table_changes,
    )

    base = built(sf_dir, "delta_table_cdf", partial(_build_cdf_fixture, spark, sf_dir))
    rows = delta_table_changes(spark, base, start=1, end=1).collect()
    assert len(rows) == 10
    kinds = {r._change_type for r in rows}
    assert kinds == {"update_preimage", "update_postimage"}
    assert all(r._commit_version == 1 for r in rows)


def test_cdf_tail_is_incremental(spark, sf_dir, tmp_path):
    """The stream's version offsets genuinely advance: drain a 1-commit
    clone, APPEND the v1 update commit, drain again — the second batch
    carries only v1's cdc rows (no re-emission of v0)."""
    import shutil as _sh

    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _build_cdf_fixture,
            _make_cdf_stream_datasource,
    )

    src = built(sf_dir, "delta_table_cdf", partial(_build_cdf_fixture, spark, sf_dir))
    clone = str(tmp_path / "cdf_tail_inc")
    _sh.copytree(src, clone)
    held = []
    for v in (1, 2):
        p = os.path.join(clone, "_delta_log", f"{v:020d}.json")
        held.append((p, open(p).read()))
        os.remove(p)

    spark.dataSource.register(_make_cdf_stream_datasource())
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("delta_cdf_tail")
        .option("path", clone)
        .load()
        .writeStream.format("memory")
        .queryName("cdf_tail_inc")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("cdf_tail_inc").count() == 25  # v0 inserts only
        # the table grows: v1 (cdc update) lands
        with open(held[0][0], "w") as fh:
            fh.write(held[0][1])
        q.processAllAvailable()
        out = spark.table("cdf_tail_inc")
        assert out.count() == 35
        assert out.filter("_commit_version = 1").count() == 10
        # v0 rows were NOT re-emitted
        assert out.filter("_commit_version = 0").count() == 25
    finally:
        q.stop()
