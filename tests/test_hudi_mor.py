"""Pins for round-8 batch DE: Hudi MoR log framing, torn-tail handling,
timeline slice resolution (compaction resets the log list, inflight
instants invisible), and the latest-wins merge with tombstones."""

from __future__ import annotations

import io
import json
import os

import pytest

from sap_cta_data_pipeline_spark.operators.hudi_mor import (
    _AVRO_DATA_BLOCK,
    _H_INSTANT_TIME,
    _H_SCHEMA,
    _build_mor_fixture,
    decode_avro_data_block,
    encode_avro_data_block,
    hudi_mor_snapshot,
    read_log_blocks,
    write_log_block,
)
from sap_cta_data_pipeline_spark.operators.hudi_timeline import file_slices

_SCH = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "k", "type": ["null", "string"], "default": None},
        {"name": "v", "type": ["null", "long"], "default": None},
    ],
}


def _block_bytes(records, instant="001") -> bytes:
    buf = io.BytesIO()
    write_log_block(
        buf,
        _AVRO_DATA_BLOCK,
        {_H_INSTANT_TIME: instant, _H_SCHEMA: json.dumps(_SCH)},
        encode_avro_data_block(_SCH, records),
    )
    return buf.getvalue()


def test_log_block_roundtrip():
    recs = [{"k": "a", "v": 1}, {"k": "b", "v": None}]
    data = _block_bytes(recs) + _block_bytes([{"k": "c", "v": 3}], "002")
    blocks = read_log_blocks(data)
    assert len(blocks) == 2
    btype, header, content = blocks[0]
    assert btype == _AVRO_DATA_BLOCK
    assert header[_H_INSTANT_TIME] == "001"
    assert decode_avro_data_block(json.loads(header[_H_SCHEMA]), content) == recs
    assert decode_avro_data_block(_SCH, blocks[1][2]) == [{"k": "c", "v": 3}]


def test_log_block_framing_structure():
    """Structural spec pin: magic, trailer total-length, and the
    length-after-field contract (enables reverse scan per tech-specs)."""
    import struct

    data = _block_bytes([{"k": "a", "v": 1}])
    assert data[:6] == b"#HUDI#"
    (blen,) = struct.unpack(">q", data[6:14])
    assert 6 + 8 + blen == len(data)  # block length = bytes after field
    (total,) = struct.unpack(">q", data[-8:])
    assert total == len(data)  # trailer names the WHOLE block


def test_torn_tail_ignored():
    """A crashed writer's partial block (bad magic or truncated) must
    drop silently — only whole blocks before it are visible."""
    good = _block_bytes([{"k": "a", "v": 1}])
    assert len(read_log_blocks(good + b"#GARBAGE-NOT-A-BLOCK")) == 1
    assert len(read_log_blocks(good + good[: len(good) // 2])) == 1
    assert read_log_blocks(b"") == []


def test_mor_state_slices(spark, sf_dir):
    base = _build_mor_fixture(spark, sf_dir)
    slices = file_slices(base)
    assert set(slices) == {"fg-a"}
    bp, logs = slices["fg-a"]
    assert bp == "fg-a_0-0-0_001.parquet"
    assert logs == ["fg-a_0-0-0.log.1_002"]  # inflight 003's log invisible
    assert os.path.exists(os.path.join(base, "fg-a_0-0-0.log.2_003"))


def test_mor_compaction_resets_log_list(spark, sf_dir, tmp_path):
    """A later .commit writing a parquet path for the group starts a new
    slice: pending logs fold away and the read degrades to a pure scan."""
    import shutil

    base = str(tmp_path / "mor_compact")
    shutil.copytree(_build_mor_fixture(spark, sf_dir), base)
    # simulate compaction: instant 004 rewrites fg-a as parquet with the
    # merged content (reuse the merged snapshot to build it)
    merged = hudi_mor_snapshot(spark, base)
    from pyspark.sql import functions as F

    compacted = merged.select(
        F.lit("004").alias("_hoodie_commit_time"),
        F.col("n_nationkey").cast("string").alias("_hoodie_record_key"),
        "n_name",
        "n_nationkey",
        "n_regionkey",
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _stage_single_parquet,
    )

    _stage_single_parquet(compacted, os.path.join(base, "fg-a_0-0-0_004.parquet"))
    with open(os.path.join(base, ".hoodie", "004.commit"), "w") as fh:
        json.dump(
            {
                "partitionToWriteStats": {
                    "": [{"fileId": "fg-a", "path": "fg-a_0-0-0_004.parquet"}]
                }
            },
            fh,
        )
    bp, logs = file_slices(base)["fg-a"]
    assert bp == "fg-a_0-0-0_004.parquet" and logs == []
    rows = hudi_mor_snapshot(spark, base).collect()
    assert sorted(r.n_nationkey for r in rows) == [
        k for k in range(25) if k % 5 != 0
    ]
    assert not any(r.n_name.endswith("-old") for r in rows)


def test_mor_merge_update_and_delete(spark, sf_dir):
    """The verdict's pinned fixture: one log file whose blocks UPDATE
    base rows (clean names for keys < 12) AND DELETE base rows
    (multiples of 5 tombstoned)."""
    base = _build_mor_fixture(spark, sf_dir)
    rows = hudi_mor_snapshot(spark, base).collect()
    keys = sorted(r.n_nationkey for r in rows)
    assert keys == [k for k in range(25) if k % 5 != 0]
    assert not any(r.n_name.endswith("-old") for r in rows)  # upserts won
    assert not any(r.n_name == "GARBAGE" for r in rows)  # inflight invisible


def test_mor_unsupported_block_type_raises(spark, sf_dir, tmp_path):
    import shutil

    base = str(tmp_path / "mor_badblock")
    shutil.copytree(_build_mor_fixture(spark, sf_dir), base)
    with open(os.path.join(base, "fg-a_0-0-0.log.1_002"), "ab") as fh:
        write_log_block(
            fh, 7, {_H_INSTANT_TIME: "002", _H_SCHEMA: json.dumps(_SCH)}, b""
        )
    with pytest.raises(Exception, match="unsupported Hudi log block type"):
        hudi_mor_snapshot(spark, base).collect()


def test_mor_time_travel_pre_history_raises(spark, sf_dir):
    base = _build_mor_fixture(spark, sf_dir)
    with pytest.raises(ValueError, match="no completed instant"):
        file_slices(base, as_of="000")


def test_mor_as_of_001_is_base_only(spark, sf_dir):
    base = _build_mor_fixture(spark, sf_dir)
    bp, logs = file_slices(base, as_of="001")["fg-a"]
    assert bp is not None and logs == []
    rows = hudi_mor_snapshot(spark, base, as_of="001").collect()
    assert len(rows) == 25
    assert sum(1 for r in rows if r.n_name.endswith("-old")) == 12
