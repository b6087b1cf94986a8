"""Batch GD pins — ref-aware expiry: tag/branch protection, ref
aging, expired-snapshot refusal, corrupt-refs refusal, and the
naive-vs-ref-aware contrast."""

from __future__ import annotations

import os

import pytest

from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    _tip,
    iceberg_snapshot,
)
from sap_cta_data_pipeline_spark.operators.surface57 import (
    _build_refs_fixture,
    iceberg_expire_snapshots_refs,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark, tmp_path):
    base = str(tmp_path / "refs")
    _build_refs_fixture(spark, SF, base)
    return base


def test_refs_protect_beyond_keep_last(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    _, expired, removed = iceberg_expire_snapshots_refs(base, keep_last=1)
    assert expired == [1001]  # newest-K alone would also drop 1002, 1003
    assert removed == ["tmp"]
    _, md = _tip(os.path.join(base, "metadata"))
    kept = sorted(s["snapshot-id"] for s in md["snapshots"])
    assert kept == [1002, 1003, 1004]
    assert sorted(md["refs"]) == ["audit", "eoy", "main"]
    # ref-addressed reads still work on the protected snapshots
    from sap_cta_data_pipeline_spark.operators.surface26 import (
        iceberg_snapshot_by_ref,
    )

    assert iceberg_snapshot_by_ref(spark, base, "eoy").count() == 12
    assert iceberg_snapshot_by_ref(spark, base, "audit").count() == 19
    assert iceberg_snapshot(spark, base).count() == 25


def test_expired_snapshot_unaddressable(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    iceberg_expire_snapshots_refs(base, keep_last=1)
    with pytest.raises(ValueError, match="unknown Iceberg snapshot-id"):
        iceberg_snapshot(spark, base, snapshot_id=1001).count()


def test_durable_refs_never_age(spark, tmp_path):
    """Only refs carrying max-ref-age-ms age out; a second expiry run
    is a no-op (idempotent once the protected set is stable)."""
    base = _fixture(spark, tmp_path)
    iceberg_expire_snapshots_refs(base, keep_last=1)
    _, expired2, removed2 = iceberg_expire_snapshots_refs(base, keep_last=1)
    assert expired2 == [] and removed2 == []


def test_corrupt_refs_refuse(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _put_metadata_if_absent,
    )

    cur_v, md = _tip(os.path.join(base, "metadata"))
    md = dict(md)
    md["refs"] = dict(md["refs"])
    md["refs"]["ghost"] = {"snapshot-id": 999999, "type": "tag"}
    _put_metadata_if_absent(os.path.join(base, "metadata"), cur_v + 1, md)
    with open(os.path.join(base, "metadata", "version-hint.text"), "w") as fh:
        fh.write(str(cur_v + 1))
    with pytest.raises(ValueError, match="corrupt refs"):
        iceberg_expire_snapshots_refs(base, keep_last=1)


def test_keep_last_guard(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="keep_last"):
        iceberg_expire_snapshots_refs(base, keep_last=0)
