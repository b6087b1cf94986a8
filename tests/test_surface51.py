"""Batch FX pins — Iceberg v3 row lineage: append inheritance
(cumulative within a manifest, next-row-id handoff across snapshots),
identity stability across a CoW update, and the non-v3 refusal."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.functions.avro_codec import (
    read_container,
    write_container,
)
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    _MANIFEST_FILE_SCHEMA,
    _entry,
    _manifest,
)
from sap_cta_data_pipeline_spark.operators.surface51 import (
    _build_lineage_fixture,
    lineage_files,
    read_with_lineage,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark, tmp_path):
    base = str(tmp_path / "lineage")
    _build_lineage_fixture(spark, SF, base)
    return base


def test_inheritance_is_cumulative_within_manifest(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    files = {os.path.basename(f["path"]): f for f in lineage_files(base, 3001)}
    assert files["lin-lo.parquet"]["first_row_id"] == 0
    assert files["lin-hi.parquet"]["first_row_id"] == 12  # 0 + lo's 12 rows
    assert all(f["seq"] == 1 for f in files.values())


def test_append_inherits_from_next_row_id(spark, tmp_path):
    """A NEW append snapshot starts its assignment at the table's
    next-row-id (37 after the update), entries inherit cumulatively,
    and next-row-id advances by the appended row count — the exact
    handoff the spec's inheritance scheme exists for."""
    base = _fixture(spark, tmp_path)
    meta_dir = os.path.join(base, "metadata")
    import pandas as pd

    from sap_cta_data_pipeline_spark.operators.surface51 import (
        _write_lineage_parquet,
    )

    a = pd.DataFrame(
        {"n_nationkey": [100, 101], "n_name": ["AA", "BB"], "n_regionkey": [0, 1]}
    )
    b = pd.DataFrame({"n_nationkey": [102], "n_name": ["CC"], "n_regionkey": [2]})
    _write_lineage_parquet(a, os.path.join(base, "data", "app-a.parquet"))
    _write_lineage_parquet(b, os.path.join(base, "data", "app-b.parquet"))
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        md = json.load(fh)
    assert md["next-row-id"] == 37
    app = _manifest(
        base,
        md,
        "m-app.avro",
        [
            _entry(base, "app-a.parquet", 0, 2),
            _entry(base, "app-b.parquet", 0, 1),
        ],
        0,
        3003,
        3,
    )
    old_list = md["snapshots"][-1]["manifest-list"]
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import _resolve_path

    _, prev = read_container(_resolve_path(base, old_list))
    write_container(
        os.path.join(meta_dir, "snap-3003.avro"),
        _MANIFEST_FILE_SCHEMA,
        list(prev) + [{**app, "first_row_id": 37}],
    )
    md["snapshots"].append(
        {
            "snapshot-id": 3003,
            "parent-snapshot-id": 3002,
            "sequence-number": 3,
            "first-row-id": 37,
            "timestamp-ms": 1700000003000,
            "manifest-list": "file://" + os.path.join(meta_dir, "snap-3003.avro"),
            "summary": {"operation": "append"},
        }
    )
    md["next-row-id"] = 40
    md["last-sequence-number"] = 3
    md["current-snapshot-id"] = 3003
    with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
        json.dump(md, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("2")

    files = {os.path.basename(f["path"]): f for f in lineage_files(base)}
    assert files["app-a.parquet"]["first_row_id"] == 37
    assert files["app-b.parquet"]["first_row_id"] == 39  # 37 + a's 2 rows
    rows = {
        r.n_nationkey: r
        for r in read_with_lineage(spark, base).collect()
    }
    assert rows[100].row_id == 37 and rows[101].row_id == 38
    assert rows[102].row_id == 39 and rows[102].last_upd_seq == 3
    # pre-existing rows untouched by the append
    assert rows[5].row_id == 5 and rows[5].last_upd_seq == 2


def test_row_ids_stable_across_update(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    before = {
        r.row_id: r.n_nationkey
        for r in read_with_lineage(spark, base, 3001).collect()
    }
    after = {
        r.row_id: r.n_nationkey
        for r in read_with_lineage(spark, base, 3002).collect()
    }
    assert before == after  # identity survives the CoW rewrite
    seqs = {
        r.n_nationkey: r.last_upd_seq
        for r in read_with_lineage(spark, base, 3002).collect()
    }
    assert seqs[5] == 2 and all(v == 1 for k, v in seqs.items() if k != 5)


def test_non_v3_refuses(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    meta_dir = os.path.join(base, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        md = json.load(fh)
    md["format-version"] = 2
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(md, fh)
    with pytest.raises(ValueError, match="format-version 3"):
        lineage_files(base)


def test_null_lineage_without_manifest_base_refuses(spark, tmp_path):
    base = _fixture(spark, tmp_path)
    meta_dir = os.path.join(base, "metadata")
    # corrupt: manifest list entry loses its first_row_id while holding
    # null-lineage entries
    ml = os.path.join(meta_dir, "snap-3001.avro")
    _, recs = read_container(ml)
    write_container(
        ml, _MANIFEST_FILE_SCHEMA, [{**r, "first_row_id": None} for r in recs]
    )
    with pytest.raises(ValueError, match="first_row_id"):
        lineage_files(base, 3001)
