"""Pins for Delta deletion vectors (round 7): the stdlib codec
(functions/deletion_vectors.py — Z85, 64-bit-portable roaring bitmaps,
the sidecar file framing) against published test vectors and hand-built
bytes, and the reader's merge-on-read APPLY including DV'd time travel,
checkpoint survival, and compaction clearing."""

from __future__ import annotations

import json
import os
import shutil
import struct
from functools import partial

import pytest

from sap_cta_data_pipeline_spark.functions.deletion_vectors import (
    _MAGIC,
    deserialize_bitmap,
    dv_deleted_positions,
    dv_relative_path,
    make_dv_descriptor_file,
    make_dv_descriptor_inline,
    serialize_bitmap,
    write_dv_file,
    z85_decode,
    z85_encode,
)
from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _build_dv_fixture,
    delta_snapshot,
    delta_state,
)
from sap_cta_data_pipeline_spark.operators.sources import built

# ------------------------------------------------------------- codec


def test_z85_zeromq_spec_vector():
    """The published spec 32/Z85 test case."""
    data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(data) == "HelloWorld"
    assert z85_decode("HelloWorld") == data


def test_z85_padding_roundtrip():
    """Delta zero-pads to 4-byte multiples and truncates on decode via
    the out-of-band sizeInBytes — 16-byte UUIDs encode to exactly 20
    chars."""
    raw = bytes(range(16))
    enc = z85_encode(raw)
    assert len(enc) == 20
    assert z85_decode(enc, length=16) == raw
    odd = b"\x01\x02\x03"  # padded to 4 → 5 chars, truncated back
    assert z85_decode(z85_encode(odd), length=3) == odd


@pytest.mark.parametrize(
    "positions",
    [
        [],
        [0],
        [1, 3, 5],
        list(range(5000)),  # > 4096 → bitset container
        [0, 65536, 2**32 + 7, 2**33],  # multiple 16-bit keys + 32-bit words
    ],
)
def test_bitmap_roundtrip(positions):
    assert deserialize_bitmap(serialize_bitmap(positions)) == sorted(
        set(positions)
    )


def test_bitmap_run_container_decodes():
    """Readers must accept run containers even though this writer never
    emits them — hand-build the bytes: magic + 1 bitmap, cookie 12347
    (1 container, run flag set), one run [10, 10+4]."""
    rb = struct.pack("<I", 12347 | (0 << 16))  # cookie, n-1=0 containers
    rb += bytes([0b1])  # run flag bitset: container 0 is a run
    rb += struct.pack("<HH", 0, 4)  # key 0, cardinality-1 = 4
    # < _NO_OFFSET_THRESHOLD containers → no offset header
    rb += struct.pack("<H", 1)  # 1 run
    rb += struct.pack("<HH", 10, 4)  # start 10, length-1 = 4
    data = struct.pack("<Iq", _MAGIC, 1) + struct.pack("<I", 0) + rb
    assert deserialize_bitmap(data) == [10, 11, 12, 13, 14]


def test_bitmap_bad_magic_raises():
    with pytest.raises(ValueError, match="bad DV magic"):
        deserialize_bitmap(struct.pack("<Iq", 999, 0))


def test_dv_file_framing_and_crc(tmp_path):
    bm1 = serialize_bitmap([1, 2, 3])
    bm2 = serialize_bitmap([100])
    path = str(tmp_path / "dv" / "deletion_vector_x.bin")
    spans = write_dv_file(path, [bm1, bm2])
    assert spans[0] == (1, len(bm1))
    # second DV sits after [u32 size][data][u32 crc] of the first
    assert spans[1][0] == 1 + 4 + len(bm1) + 4

    desc = make_dv_descriptor_file(str(tmp_path / "t"), [7, 9], prefix="ab")
    assert desc["storageType"] == "u"
    assert dv_deleted_positions(str(tmp_path / "t"), desc) == [7, 9]
    # corrupt one payload byte → CRC check must fire
    fpath = os.path.join(str(tmp_path / "t"), dv_relative_path(desc))
    raw = bytearray(open(fpath, "rb").read())
    raw[6] ^= 0xFF
    with open(fpath, "wb") as fh:
        fh.write(raw)
    with pytest.raises(ValueError, match="checksum mismatch"):
        dv_deleted_positions(str(tmp_path / "t"), desc)


def test_inline_descriptor_and_cardinality_check():
    desc = make_dv_descriptor_inline([4, 2, 2])
    assert desc["storageType"] == "i"
    assert desc["cardinality"] == 2
    assert dv_deleted_positions("/nonexistent", desc) == [2, 4]
    desc["cardinality"] = 5
    with pytest.raises(ValueError, match="cardinality mismatch"):
        dv_deleted_positions("/nonexistent", desc)


def test_prefix_sharded_path_resolution():
    import uuid

    uid = uuid.uuid4()
    desc = {"pathOrInlineDv": "ab" + z85_encode(uid.bytes)}
    assert dv_relative_path(desc) == os.path.join(
        "ab", f"deletion_vector_{uid}.bin"
    )


# ---------------------------------------------------------- reader apply


@pytest.fixture(scope="module")
def dvbase(spark, sf_dir):
    return built(sf_dir, "delta_table_dv", partial(_build_dv_fixture, spark, sf_dir))


def test_dv_snapshot_removes_exactly_the_dv_rows(spark, dvbase):
    keys = sorted(
        r.n_nationkey for r in delta_snapshot(spark, dvbase).collect()
    )
    assert keys == [k for k in range(25) if k not in (1, 3, 5, 12, 14)]


def test_dv_time_travel(spark, dvbase):
    """v0 predates both DVs (full nation); v1 carries only the inline DV
    on part-lo — time travel must pin the HISTORICAL deleted set, not
    the current one."""
    assert delta_snapshot(spark, dvbase, version=0).count() == 25
    keys1 = sorted(
        r.n_nationkey
        for r in delta_snapshot(spark, dvbase, version=1).collect()
    )
    assert keys1 == [k for k in range(25) if k not in (1, 3, 5)]


def test_dv_state_tracks_descriptors(spark, dvbase):
    live, _, _, _, dvs = delta_state(spark, dvbase)
    assert set(live) == {"part-lo.parquet", "part-hi.parquet"}
    assert dvs["part-lo.parquet"]["storageType"] == "i"
    assert dvs["part-hi.parquet"]["storageType"] == "u"
    _, _, _, _, dvs0 = delta_state(spark, dvbase, version=0)
    assert dvs0 == {}


def test_compaction_readd_clears_dv(spark, dvbase, tmp_path):
    """A re-add WITHOUT a descriptor (e.g. an OPTIMIZE rewrite that
    physically dropped the deleted rows) must CLEAR the previous DV —
    resurfacing deleted rows here means reading a compacted file through
    a stale bitmap."""
    clone = str(tmp_path / "dv_compact")
    shutil.copytree(dvbase, clone)
    log_dir = os.path.join(clone, "_delta_log")
    acts = [
        {
            "remove": {
                "path": "part-lo.parquet",
                "deletionTimestamp": 1700000000000,
                "dataChange": False,
            }
        },
        {
            "add": {
                "path": "part-lo.parquet",
                "partitionValues": {},
                "size": 1024,
                "modificationTime": 1700000000001,
                "dataChange": False,
            }
        },
    ]
    with open(os.path.join(log_dir, f"{3:020d}.json"), "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    _, _, _, _, dvs = delta_state(spark, clone)
    assert "part-lo.parquet" not in dvs  # cleared
    keys = sorted(r.n_nationkey for r in delta_snapshot(spark, clone).collect())
    # lo rows all back (fixture re-add points at the ORIGINAL file —
    # physically a compaction would rewrite it; the log semantics are
    # what is pinned here), hi DV still applied
    assert keys == [k for k in range(25) if k not in (12, 14)]


def test_dv_survives_checkpoint(spark, dvbase, tmp_path):
    """delta_checkpoint must persist DV descriptors (and the v3 protocol
    row): checkpoint the DV table, DELETE every pre-checkpoint commit,
    and re-read through the _last_checkpoint fast path."""
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        delta_checkpoint,
    )

    clone = str(tmp_path / "dv_ckpt")
    shutil.copytree(dvbase, clone)
    v = delta_checkpoint(spark, clone)
    for i in range(v + 1):
        p = os.path.join(clone, "_delta_log", f"{i:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    keys = sorted(r.n_nationkey for r in delta_snapshot(spark, clone).collect())
    assert keys == [k for k in range(25) if k not in (1, 3, 5, 12, 14)]
