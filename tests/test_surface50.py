"""Batch FW pins — liquid clustering domain metadata + in-commit
timestamps: mtime-blind resolution, mid-history enablement split,
tombstoned clustering domains, and the corrupt-log refusal."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _commit,
    _metadata,
    delta_version_at_timestamp,
)
from sap_cta_data_pipeline_spark.operators.surface50 import (
    _ICT_V1_MS,
    _ICT_V2_MS,
    _build_ict_clustered_fixture,
    delta_clustering_domain,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark, tmp_path):
    base = str(tmp_path / "ict_table")
    _build_ict_clustered_fixture(spark, SF, base)
    return base


def test_ict_resolution_is_mtime_blind(spark, tmp_path):
    """All three commit files share ONE mtime (the builder forces it —
    a log restore/copy), so the legacy rule cannot order them; ICT
    resolution still lands each target exactly."""
    base = _fixture(spark, tmp_path)
    log_dir = os.path.join(base, "_delta_log")
    mts = {os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json")) for v in range(3)}
    assert len(mts) == 1, "precondition: uniform mtimes"
    assert delta_version_at_timestamp(spark, base, _ICT_V1_MS / 1000) == 1
    assert delta_version_at_timestamp(spark, base, (_ICT_V1_MS + 50_000) / 1000) == 1
    assert delta_version_at_timestamp(spark, base, _ICT_V2_MS / 1000) == 2
    assert delta_version_at_timestamp(spark, base, _ICT_V2_MS / 1000 + 9e9) == 2


def test_pre_enablement_falls_back_to_mtime_rule(spark, tmp_path):
    """A target BEFORE the enablement timestamp resolves by the legacy
    mtime rule over pre-enablement commits only (the mid-history
    split): restamp v0 before the enablement instant and aim between."""
    base = _fixture(spark, tmp_path)
    log_dir = os.path.join(base, "_delta_log")
    t0 = (_ICT_V1_MS - 100_000) / 1000
    os.utime(os.path.join(log_dir, f"{0:020d}.json"), (t0, t0))
    assert delta_version_at_timestamp(spark, base, t0 + 50) == 0
    with pytest.raises(ValueError, match="earliest commit"):
        delta_version_at_timestamp(spark, base, t0 - 50)


def test_clustering_domain_tombstone_clears(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    assert delta_clustering_domain(spark, base) == {
        "clusteringColumns": [["n_regionkey"], ["n_nationkey"]]
    }
    _commit(
        os.path.join(base, "_delta_log"),
        3,
        [
            {
                "commitInfo": {
                    "operation": "ALTER TABLE",
                    "inCommitTimestamp": _ICT_V2_MS + 1,
                }
            },
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": "{}",
                    "removed": True,
                }
            },
        ],
    )
    assert delta_clustering_domain(spark, base) is None


def test_enabled_table_missing_ict_refuses(spark, tmp_path):
    """enableInCommitTimestamps with no inCommitTimestamp on the
    enablement commit violates PROTOCOL.md — refuse loudly, never
    silently fall back to mtimes (that would re-open the restore
    hazard ICT closes)."""
    base = str(tmp_path / "corrupt_ict")
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"commitInfo": {"operation": "WRITE"}},  # no inCommitTimestamp
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["inCommitTimestamp"]}},
            _metadata(configuration={"delta.enableInCommitTimestamps": "true"}),
        ],
    )
    with pytest.raises(ValueError, match="inCommitTimestamp"):
        delta_version_at_timestamp(spark, base, 1e12)


def test_history_ict_sources(spark, tmp_path):
    from sap_cta_data_pipeline_spark.operators.surface50 import delta_history_ict

    rows = {
        r.version: r
        for r in delta_history_ict.__wrapped__(spark, SF).collect()
    }
    assert rows[0].ict_ms is None and rows[0].ts_source == "file-mtime"
    assert rows[1].ict_ms == _ICT_V1_MS
    assert rows[2].ict_ms == _ICT_V2_MS and rows[2].ts_source == "inCommitTimestamp"
    # ICT is monotonic by spec — the surfaced series must be too
    assert rows[1].ict_ms < rows[2].ict_ms


def test_legacy_tables_unchanged(spark, tmp_path):
    """Tables WITHOUT the feature keep the exact legacy behavior —
    regression pin for the resolver rewrite."""
    base = str(tmp_path / "legacy")
    log_dir = os.path.join(base, "_delta_log")
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _metadata(),
    ])
    _commit(log_dir, 1, [{"commitInfo": {"operation": "WRITE"}}])
    t0 = 1700000000.0
    os.utime(os.path.join(log_dir, f"{0:020d}.json"), (t0, t0))
    os.utime(os.path.join(log_dir, f"{1:020d}.json"), (t0 + 10, t0 + 10))
    assert delta_version_at_timestamp(spark, base, t0 + 5) == 0
    assert delta_version_at_timestamp(spark, base, t0 + 10) == 1
    with pytest.raises(ValueError, match="earliest commit"):
        delta_version_at_timestamp(spark, base, t0 - 5)


def test_post_enablement_commit_missing_ict_refuses(spark, tmp_path):
    """A POST-enablement commit with no inCommitTimestamp must refuse
    resolution, not be silently skipped — skipping would resolve
    FOR TIMESTAMP AS OF to a wrong EARLIER version on a corrupt log
    (round-10 ADVICE fix; the enablement commit itself was already
    guarded by _ict_enablement)."""
    base = _fixture(spark, tmp_path)
    _commit(
        os.path.join(base, "_delta_log"),
        3,
        [{"commitInfo": {"operation": "WRITE"}}],  # no inCommitTimestamp
    )
    # a target far past every ICT would, under the old filter, land on
    # v2 — the wrong earlier version; the fixed path refuses loudly
    with pytest.raises(ValueError, match="corrupt ICT history"):
        delta_version_at_timestamp(spark, base, (_ICT_V2_MS + 9_000_000) / 1000)
