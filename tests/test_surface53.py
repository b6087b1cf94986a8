"""Batch FZ pins — Delta row tracking: id stability across a CoW
update, the high-water-mark domain, the missing-baseRowId refusal, and
the not-enabled refusal."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _commit,
    _metadata,
)
from sap_cta_data_pipeline_spark.operators.surface53 import (
    _RT_CONFIG,
    _build_row_tracking_fixture,
    read_with_row_tracking,
    row_tracking_files,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark, tmp_path):
    base = str(tmp_path / "rt")
    _build_row_tracking_fixture(spark, SF, base)
    return base


def test_ids_stable_commit_version_moves(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    v0 = {r.row_id: r.n_nationkey
          for r in read_with_row_tracking(spark, base, 0).collect()}
    v1 = {r.row_id: r.n_nationkey
          for r in read_with_row_tracking(spark, base).collect()}
    assert v0 == v1  # identity survives the rewrite
    rcv = {r.n_nationkey: r.row_commit_version
           for r in read_with_row_tracking(spark, base).collect()}
    assert rcv[5] == 1 and all(v == 0 for k, v in rcv.items() if k != 5)


def test_high_water_mark_advances(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    log_dir = os.path.join(base, "_delta_log")
    from sap_cta_data_pipeline_spark.operators.delta_reader import (
        _COMMIT_RE,
        _read_commit,
    )

    hwm = None
    for v in sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    ):
        for a in _read_commit(log_dir, v):
            dm = a.get("domainMetadata")
            if dm and dm["domain"] == "delta.rowTracking":
                hwm = json.loads(dm["configuration"])["rowIdHighWaterMark"]
    assert hwm == 36  # 24 after v0, 36 after the rewrite consumed 25..36


def test_missing_base_row_id_refuses(spark, tmp_path):
    base = str(tmp_path / "bad_rt")
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["rowTracking"]}},
            _metadata(configuration=_RT_CONFIG),
            {
                "add": {
                    "path": "x.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    with pytest.raises(ValueError, match="baseRowId"):
        row_tracking_files(spark, base)


def test_not_enabled_refuses(spark, tmp_path):
    base = str(tmp_path / "plain")
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _metadata(),
            {
                "add": {
                    "path": "y.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                    "baseRowId": 0,
                    "defaultRowCommitVersion": 0,
                }
            },
        ],
    )
    with pytest.raises(ValueError, match="enableRowTracking"):
        row_tracking_files(spark, base)


def test_plain_table_plain_add_gets_not_enabled_error(spark, tmp_path):
    """A non-row-tracking table whose adds (legitimately) carry no
    baseRowId must get the 'not enabled' refusal, not the corrupt-log
    'no baseRowId' one — the gate resolves from config FIRST."""
    base = str(tmp_path / "plain2")
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _metadata(),
            {
                "add": {
                    "path": "z.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    with pytest.raises(ValueError, match="enableRowTracking"):
        row_tracking_files(spark, base)
