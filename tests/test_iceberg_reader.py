"""Pins for the Iceberg v2 reader (round 7): the from-scratch Avro
container codec (functions/avro_codec.py) against hand-built bytes and
roundtrips, and the snapshot/manifest semantics — snapshot-id time
travel, DELETED-entry exclusion, position-delete application, and the
unsupported-feature guards."""

from __future__ import annotations

import io
import json
import os
import shutil
import struct
import tempfile
from functools import partial

import pytest

from sap_cta_data_pipeline_spark.functions.avro_codec import (
    _zigzag_decode,
    _zigzag_encode,
    read_container,
    write_container,
)
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    _build_iceberg_fixture,
    _entry_schema,
    iceberg_snapshot,
    iceberg_state,
)


@pytest.fixture(scope="module")
def ibase(spark, sf_dir):
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _build_iceberg_fixture,
    )
    from sap_cta_data_pipeline_spark.operators.sources import built

    return built(
        sf_dir, "iceberg_table", partial(_build_iceberg_fixture, spark, sf_dir)
    )


# ------------------------------------------------------------- avro codec


def test_zigzag_spec_values():
    """The Avro spec's varint/zigzag examples."""
    cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
             -64: b"\x7f", 64: b"\x80\x01"}
    for n, enc in cases.items():
        assert _zigzag_encode(n) == enc
        assert _zigzag_decode(io.BytesIO(enc)) == n


def test_container_roundtrip_all_types(tmp_path):
    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "l", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "o", "type": ["null", "int"], "default": None},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    recs = [
        {"l": -(2**40), "s": "héllo", "d": 2.5, "o": None, "a": [1, 2], "m": {"x": "y"}},
        {"l": 2**40, "s": "", "d": -0.0, "o": 7, "a": [], "m": {}},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t-{codec}.avro")
        write_container(p, schema, recs, codec=codec)
        s2, r2 = read_container(p)
        assert (s2, r2) == (schema, recs)


def test_container_negative_block_count(tmp_path):
    """Some writers emit array blocks with NEGATIVE count + byte size;
    readers must accept them (spec). Hand-patch an encoded record."""
    schema = {
        "type": "record", "name": "t",
        "fields": [{"name": "a", "type": {"type": "array", "items": "long"}}],
    }
    p = str(tmp_path / "neg.avro")
    write_container(p, schema, [{"a": [5, 6]}], codec="null")
    raw = bytearray(open(p, "rb").read())
    # locate the payload: last 16 bytes are sync; block payload precedes.
    # encoded record = [count=2][5][6][0] = 04 0a 0c 00 — rewrite as
    # negative form [-2][size=2][5][6][0] = 03 04 0a 0c 00 (1 byte longer,
    # so fix the block's byte-size varint from 4 → 5 too)
    body = bytes([0x04, 0x0A, 0x0C, 0x00])
    idx = bytes(raw).rindex(body)
    new = raw[: idx - 1] + bytes([0x0A, 0x03, 0x04, 0x0A, 0x0C, 0x00]) + raw[idx + 4 :]
    # idx-1 held the byte-size varint 0x08 (=4); 0x0A (=5) replaces it
    assert raw[idx - 1] == 0x08
    with open(p, "wb") as fh:
        fh.write(bytes(new))
    _, recs = read_container(p)
    assert recs == [{"a": [5, 6]}]


def test_container_bad_magic_and_codec(tmp_path):
    p = str(tmp_path / "bad.avro")
    with open(p, "wb") as fh:
        fh.write(b"NOPE" + b"\x00" * 20)
    with pytest.raises(ValueError, match="bad magic"):
        read_container(p)
    with pytest.raises(ValueError, match="unsupported Avro codec"):
        write_container(str(tmp_path / "x.avro"), {"type": "record", "name": "r", "fields": []}, [], codec="snappy")


# ------------------------------------------------------------- reader


def test_state_file_sets(ibase):
    schema, data, dels, eqs = iceberg_state(ibase)
    assert [os.path.basename(d["path"]) for d in data] == [
        "part-hi.parquet",
        "part-lo.parquet",
    ]
    assert [os.path.basename(d["path"]) for d in dels] == ["delete-0.parquet"]
    assert eqs == []
    assert [f.name for f in schema.fields] == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
    ]
    _, data1, dels1, _ = iceberg_state(ibase, snapshot_id=1001)
    assert len(data1) == 2 and dels1 == []


def test_snapshot_applies_position_deletes(spark, ibase):
    keys = sorted(r.n_nationkey for r in iceberg_snapshot(spark, ibase).collect())
    assert keys == [k for k in range(25) if k not in (1, 3, 5, 12, 14)]


def test_time_travel_full_nation(spark, ibase):
    assert iceberg_snapshot(spark, ibase, snapshot_id=1001).count() == 25


def test_unknown_snapshot_raises(ibase):
    with pytest.raises(ValueError, match="unknown Iceberg snapshot-id"):
        iceberg_state(ibase, snapshot_id=9999)


def test_unsupported_format_version_raises(spark, ibase, tmp_path):
    clone = str(tmp_path / "ib_v9")
    shutil.copytree(ibase, clone)
    mp = os.path.join(clone, "metadata", "v2.metadata.json")
    md = json.load(open(mp))
    md["format-version"] = 9
    with open(mp, "w") as fh:
        json.dump(md, fh)
    with pytest.raises(ValueError, match="unsupported Iceberg format-version"):
        iceberg_state(clone)


def _repoint(clone: str, ibase: str) -> None:
    """Fixture paths are absolute file: URIs — rewrite a clone's metadata
    + manifest lists to point inside the clone."""
    for n in (1, 2):
        mp = os.path.join(clone, "metadata", f"v{n}.metadata.json")
        md = json.load(open(mp))
        for s in md["snapshots"]:
            s["manifest-list"] = s["manifest-list"].replace(ibase, clone)
        with open(mp, "w") as fh:
            json.dump(md, fh)
    for sl in ("snap-1001.avro", "snap-1002.avro"):
        lp = os.path.join(clone, "metadata", sl)
        s, recs = read_container(lp)
        for r in recs:
            r["manifest_path"] = r["manifest_path"].replace(ibase, clone)
        write_container(lp, s, recs)


def test_eq_delete_without_ids_refused(spark, ibase, tmp_path):
    """An equality delete (content=2) carrying no equality_ids is
    malformed — silently ignoring it would resurface deleted rows."""
    clone = str(tmp_path / "ib_eq")
    shutil.copytree(ibase, clone)
    _repoint(clone, ibase)
    # rewrite the delete manifest's entry to content=2 (its equality_ids
    # stays null)
    mpath = os.path.join(clone, "metadata", "m2-deletes.avro")
    schema, entries = read_container(mpath)
    entries[0]["data_file"]["content"] = 2
    write_container(mpath, _entry_schema({}), entries)
    with pytest.raises(ValueError, match="no equality_ids"):
        iceberg_state(clone)


def test_deleted_manifest_entry_excluded(spark, ibase, tmp_path):
    """status=2 entries are tombstones: a snapshot whose manifest marks
    part-lo DELETED plans only part-hi."""
    clone = str(tmp_path / "ib_del")
    shutil.copytree(ibase, clone)
    _repoint(clone, ibase)
    mpath = os.path.join(clone, "metadata", "m1-data.avro")
    schema, entries = read_container(mpath)
    for e in entries:
        if e["data_file"]["file_path"].endswith("part-lo.parquet"):
            e["status"] = 2
    write_container(mpath, _entry_schema({}), entries)
    _, data, _, _ = iceberg_state(clone, snapshot_id=1001)
    assert [os.path.basename(d["path"]) for d in data] == ["part-hi.parquet"]


def test_partition_prune_plans_exactly_one_file(spark, sf_dir):
    """Metadata file skipping: the one-partition query plans 1 of 5
    files — asserted on the PLANNED file set, not the result."""
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _part_fixture,
        iceberg_snapshot,
        iceberg_state,
    )

    base = _part_fixture(spark, sf_dir)
    _, all_files, _, _ = iceberg_state(base)
    assert len(all_files) == 5
    df = iceberg_snapshot(spark, base, partition_filter={"n_regionkey": 2})
    assert [os.path.basename(f) for f in df.inputFiles()] == ["rk=2.parquet"]
    assert df.count() == 5


def test_eq_delete_sequence_gate(spark, sf_dir):
    """The strict-inequality sequence gate: the seq-4 re-insert survives
    the seq-3 equality delete; the seq-1 originals do not."""
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _eq_fixture,
        iceberg_snapshot,
    )

    base = _eq_fixture(spark, sf_dir)
    rows = iceberg_snapshot(spark, base).collect()
    names = sorted(r.n_name for r in rows)
    assert "NATION_20" not in names
    assert names.count("NATION_8") == 1  # deleted at seq 1, re-added at seq 4
    assert len(rows) == 24


def test_append_snapshots_addressable(spark, sf_dir):
    """After two appends, snapshot 1 (first commit) reads the first half
    only; the current snapshot reads the union; metadata v1 and v2 both
    exist (time travel is metadata addressing, never mutation)."""
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        iceberg_append,
        iceberg_snapshot,
    )

    base = tempfile.mkdtemp()
    n = load_table(spark, sf_dir, "nation")
    v1 = iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    v2 = iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
    assert (v1, v2) == (1, 2)
    assert iceberg_snapshot(spark, base).count() == 25
    assert iceberg_snapshot(spark, base, snapshot_id=1001).count() == 12
    for v in (1, 2):
        assert os.path.exists(
            os.path.join(base, "metadata", f"v{v}.metadata.json")
        )


def test_append_retries_past_metadata_conflict(spark, sf_dir):
    """A rival taking the exact metadata version slot between the
    writer's hint read and its put forces IcebergCommitConflict; the
    append must land at the next version with both snapshots intact."""
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators import iceberg_reader as ir

    base = tempfile.mkdtemp()
    n = load_table(spark, sf_dir, "nation")
    ir.iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")

    real_put = ir._put_metadata_if_absent
    raced = {}

    def racing_put(meta_dir, version, md):
        if "raced" not in raced:
            raced["raced"] = version
            rival = dict(md)
            rival["current-snapshot-id"] = md["snapshots"][0]["snapshot-id"]
            real_put(meta_dir, version, rival)
        return real_put(meta_dir, version, md)

    ir._put_metadata_if_absent = racing_put
    try:
        v = ir.iceberg_append(
            spark, base, n.filter("n_nationkey >= 12"), "a1.parquet"
        )
    finally:
        ir._put_metadata_if_absent = real_put
    assert raced["raced"] == 2 and v == 3  # lost v2, landed at v3
    assert ir.iceberg_snapshot(spark, base).count() == 25


def test_append_gives_up_after_ten_conflicts(spark, sf_dir):
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators import iceberg_reader as ir

    base = tempfile.mkdtemp()
    n = load_table(spark, sf_dir, "nation").limit(2)

    def always_lose(meta_dir, version, md):
        raise ir.IcebergCommitConflict(f"v{version} taken")

    real_put = ir._put_metadata_if_absent
    ir._put_metadata_if_absent = always_lose
    try:
        with pytest.raises(ir.IcebergCommitConflict, match="gave up after 10"):
            ir.iceberg_append(spark, base, n, "x.parquet")
    finally:
        ir._put_metadata_if_absent = real_put


def test_as_of_timestamp_resolution(spark, ibase):
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        iceberg_snapshot_as_of,
    )

    # between the two snapshots → 1001 (full nation)
    assert iceberg_snapshot_as_of(spark, ibase, 1700000000500).count() == 25
    # at/after the delete snapshot → 1002 (20 rows)
    assert iceberg_snapshot_as_of(spark, ibase, 1700000001000).count() == 20
    with pytest.raises(ValueError, match="no Iceberg snapshot at or before"):
        iceberg_snapshot_as_of(spark, ibase, 1)


def test_expire_snapshots_safety(spark, sf_dir, tmp_path):
    """Expiring the first snapshot of an append-built table must delete
    ONLY files no retained snapshot references — for pure appends the
    retained snapshot still references snapshot 1's data file (its
    manifest is carried forward), so only snapshot 1's manifest LIST
    goes; the current read is unchanged and time travel to the expired
    id fails loudly."""
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        iceberg_append,
        iceberg_expire_snapshots,
        iceberg_snapshot,
    )

    base = tempfile.mkdtemp()
    n = load_table(spark, sf_dir, "nation")
    iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
    deleted, kept = iceberg_expire_snapshots(spark, base, keep_from_seq=2)
    assert any("snap-" in d for d in deleted)  # the expired manifest list
    assert not any(d.endswith("a0.parquet") for d in deleted)  # data survives
    assert iceberg_snapshot(spark, base).count() == 25
    with pytest.raises(ValueError, match="unknown Iceberg snapshot-id"):
        iceberg_snapshot(spark, base, snapshot_id=1001)
    # idempotent-ish: expiring again deletes nothing further
    deleted2, _ = iceberg_expire_snapshots(spark, base, keep_from_seq=2)
    assert deleted2 == []


def test_pos_delete_sequence_gate(spark, ibase, tmp_path):
    """Round-8 ADVICE fix pin: a position delete applies only to data
    files with sequence number <= the delete's. Bumping the data
    manifest's sequence number past the delete's (the rewritten-path
    scenario: files re-added AFTER the delete) must keep all 25 rows —
    the ungated reader anti-joined every planned file and lost 5."""
    clone = str(tmp_path / "ib_posseq")
    shutil.copytree(ibase, clone)
    _repoint(clone, ibase)
    lp = os.path.join(clone, "metadata", "snap-1002.avro")
    s, recs = read_container(lp)
    for r in recs:
        if r["content"] == 0:  # the data manifest
            r["sequence_number"] = 3  # > the delete manifest's seq 2
            r["min_sequence_number"] = 3
    write_container(lp, s, recs)
    assert iceberg_snapshot(spark, clone).count() == 25
    # and the unmodified fixture still applies the delete (seq 1 <= 2)
    assert iceberg_snapshot(spark, ibase).count() == 20


def test_iceberg_delete_where_time_travel_and_idempotence(spark, sf_dir, tmp_path):
    """The delete writer's snapshot history: pre-delete snapshot still
    answers the full table; deleting already-deleted rows commits
    nothing; the delete file is sorted by (file_path, pos) per spec."""
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        iceberg_append,
        iceberg_delete_where,
        iceberg_snapshot,
    )

    base = str(tmp_path / "ib_del_writer")
    n = load_table(spark, sf_dir, "nation")
    iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    v_pre_snap = 1002  # snapshot ids are 1000 + seq
    iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
    v = iceberg_delete_where(spark, base, "n_nationkey % 3 = 0")
    assert iceberg_snapshot(spark, base).count() == 16
    assert iceberg_snapshot(spark, base, snapshot_id=v_pre_snap).count() == 25
    # idempotence: nothing new matches → no new metadata version
    v2 = iceberg_delete_where(spark, base, "n_nationkey % 3 = 0")
    assert v2 == v
    # delete file sorted per spec
    import pyarrow.parquet as pq

    dels = pq.read_table(os.path.join(base, "data", "del-pos-3.parquet"))
    pairs = list(zip(dels["file_path"].to_pylist(), dels["pos"].to_pylist()))
    assert pairs == sorted(pairs)


def test_compact_rewrite_files_meta_and_history(spark, sf_dir, tmp_path):
    """Compaction pins: .files collapses to the single compacted file at
    the new sequence, the REPLACE snapshot is current in .snapshots, and
    the pre-compaction snapshot remains time-travelable (deletes still
    applied there)."""
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        iceberg_append,
        iceberg_delete_where,
        iceberg_files_meta,
        iceberg_rewrite_compact,
        iceberg_snapshot,
        iceberg_snapshots_meta,
    )

    base = str(tmp_path / "ib_compact")
    n = load_table(spark, sf_dir, "nation")
    iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
    iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
    iceberg_delete_where(spark, base, "n_nationkey % 3 = 0")
    pre_snap = 1003  # the delete snapshot (seq 3)
    iceberg_rewrite_compact(spark, base)
    files = iceberg_files_meta(spark, base).collect()
    assert [(r.file_name, r.content) for r in files] == [
        ("compacted-4.parquet", 0)
    ]
    snaps = {r.snapshot_id: r for r in iceberg_snapshots_meta(spark, base).collect()}
    assert snaps[1004].operation == "replace" and snaps[1004].is_current
    assert iceberg_snapshot(spark, base).count() == 16
    assert iceberg_snapshot(spark, base, snapshot_id=pre_snap).count() == 16
    assert iceberg_snapshot(spark, base, snapshot_id=1002).count() == 25
