"""Batch GN pins — lineage-paired changelog updates: the rename-proof
pairing identifier-based pairing cannot do, refusals, and carryover
discipline."""

from __future__ import annotations

import pytest

from sap_cta_data_pipeline_spark.operators.surface56 import changelog_updates
from sap_cta_data_pipeline_spark.operators.surface64 import (
    _COLS,
    _fixture,
    changelog_updates_by_lineage,
    iceberg_changelog_lineage,
)

SF = "/root/testdata/sf0.001"


def test_rename_pairs_by_lineage_but_not_by_identifier(spark):
    """THE pin (round-11 verdict missing #3): the window renames key
    5 → 505. Identifier-based pairing on n_nationkey sees two unrelated
    keys — a delete and an insert; lineage pairing sees ONE update pair
    on row_id 5. Same feed, opposite verdicts — the reason row lineage
    exists."""
    base = _fixture(spark, SF)
    chg = iceberg_changelog_lineage(spark, base, 7001, 7002, _COLS)
    by_lineage = {
        (r["row_id"], r["change_type"])
        for r in changelog_updates_by_lineage(chg, _COLS).collect()
        if r["row_id"] == 5
    }
    assert by_lineage == {(5, "update_preimage"), (5, "update_postimage")}
    by_id = {
        (r["n_nationkey"], r["change_type"])
        for r in changelog_updates(
            chg.drop("row_id", "last_upd_seq"),
            ["n_nationkey"],
            ["n_name", "n_regionkey"],
        ).collect()
        if r["n_nationkey"] in (5, 505)
    }
    assert by_id == {(5, "delete"), (505, "insert")}


def test_lineage_view_full_reconcile(spark):
    """25 DELETE + 25 INSERT reconcile to 1 update pair + 1 delete +
    1 insert; the 22 unchanged carriers drop."""
    base = _fixture(spark, SF)
    chg = iceberg_changelog_lineage(spark, base, 7001, 7002, _COLS)
    rows = changelog_updates_by_lineage(chg, _COLS).collect()
    assert len(rows) == 4
    kinds = sorted((r["row_id"], r["change_type"]) for r in rows)
    assert kinds == [
        (5, "update_postimage"),
        (5, "update_preimage"),
        (7, "delete"),
        (25, "insert"),
    ]
    post = next(r for r in rows if r["change_type"] == "update_postimage")
    assert (post["n_nationkey"], post["n_name"]) == (505, "RENAMED-5")


def test_same_snapshot_window_is_empty(spark):
    base = _fixture(spark, SF)
    assert (
        iceberg_changelog_lineage(spark, base, 7001, 7001, _COLS).count() == 0
    )


def test_non_v3_table_refuses(spark, tmp_path):
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        iceberg_append,
    )

    base = str(tmp_path / "v2table")
    iceberg_append(
        spark,
        base,
        load_table(spark, SF, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ),
        "a0.parquet",
    )
    with pytest.raises(ValueError, match="format-version 3"):
        iceberg_changelog_lineage(spark, base, 1001, 1001, _COLS)


def test_delete_manifest_window_refuses(spark, tmp_path):
    """A snapshot carrying a DELETE manifest refuses loudly — dead-row
    id recovery is not claimed; the identifier-based changelog is the
    documented lane for those windows."""
    import json
    import os
    import shutil

    base_src = _fixture(spark, SF)
    base = str(tmp_path / "with_del")
    shutil.copytree(base_src, base)
    # graft a delete manifest record onto snapshot 7002's manifest list
    from sap_cta_data_pipeline_spark.functions.avro_codec import (
        read_container,
        write_container,
    )
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _MANIFEST_FILE_SCHEMA,
    )

    ml = os.path.join(base, "metadata", "snap-7002.avro")
    schema, recs = read_container(ml)
    fake = dict(recs[0])
    fake["content"] = 1
    write_container(ml, _MANIFEST_FILE_SCHEMA, recs + [fake])
    # point the metadata at the grafted copy (location fields carry
    # absolute paths; rewrite them)
    md_path = os.path.join(base, "metadata", "v1.metadata.json")
    with open(md_path) as fh:
        md = json.load(fh)

    def _rebase(s: str) -> str:
        return s.replace(base_src, base)

    md["location"] = _rebase(md["location"])
    for s in md["snapshots"]:
        s["manifest-list"] = _rebase(s["manifest-list"])
    with open(md_path, "w") as fh:
        json.dump(md, fh)
    with pytest.raises(NotImplementedError, match="DELETE manifests"):
        iceberg_changelog_lineage(spark, base, 7001, 7002, _COLS)
