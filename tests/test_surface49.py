"""Batch FV pins — WAP invariants: staged data invisible on main,
failed audit never publishes, publish is metadata-only."""

from __future__ import annotations

import json
import os

import pytest

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    iceberg_append,
    iceberg_snapshot,
)
from sap_cta_data_pipeline_spark.operators.surface26 import (
    iceberg_snapshot_by_ref,
)
from sap_cta_data_pipeline_spark.operators.iceberg_reader import _tip
from sap_cta_data_pipeline_spark.operators.surface49 import (
    iceberg_append_to_branch,
    iceberg_fast_forward,
)

SF = "/root/testdata/sf0.001"


def _fresh(spark, tmp_path, name):
    base = str(tmp_path / name)
    n = load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    iceberg_append(spark, base, n.filter("n_nationkey < 12"), "b0.parquet")
    cur_v, md = _tip(os.path.join(base, "metadata"))
    md = dict(md)
    md["refs"] = {
        "main": {"snapshot-id": md["current-snapshot-id"], "type": "branch"}
    }
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _put_metadata_if_absent,
    )

    _put_metadata_if_absent(os.path.join(base, "metadata"), cur_v + 1, md)
    with open(os.path.join(base, "metadata", "version-hint.text"), "w") as fh:
        fh.write(str(cur_v + 1))
    return base, n


def test_staged_branch_invisible_on_main(spark, tmp_path):
    base, n = _fresh(spark, tmp_path, "wap_vis")
    iceberg_append_to_branch(
        spark, base, n.filter("n_nationkey >= 12"), "b1.parquet", "audit"
    )
    # unqualified readers: pre-stage state only
    assert iceberg_snapshot(spark, base).count() == 12
    # the branch sees the staged world
    assert iceberg_snapshot_by_ref(spark, base, "audit").count() == 25
    # main ref unchanged
    _, md = _tip(os.path.join(base, "metadata"))
    assert md["refs"]["main"]["snapshot-id"] == md["current-snapshot-id"]


def test_failed_audit_never_publishes(spark, tmp_path):
    base, n = _fresh(spark, tmp_path, "wap_fail")
    bad = spark.createDataFrame(
        [(None, "BROKEN", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    iceberg_append_to_branch(spark, base, bad, "bad.parquet", "audit")
    staged = iceberg_snapshot_by_ref(spark, base, "audit")
    # the audit catches the NULL key; publication is simply not invoked
    assert staged.filter("n_nationkey IS NULL").count() == 1
    assert iceberg_snapshot(spark, base).count() == 12  # main untouched
    with pytest.raises(ValueError, match="unknown branch"):
        iceberg_fast_forward(spark, base, "nope")


def test_publish_is_metadata_only(spark, tmp_path):
    base, n = _fresh(spark, tmp_path, "wap_meta")
    iceberg_append_to_branch(
        spark, base, n.filter("n_nationkey >= 12"), "b1.parquet", "audit"
    )
    data_dir = os.path.join(base, "data")
    before = sorted(os.listdir(data_dir))
    v = iceberg_fast_forward(spark, base, "audit")
    assert sorted(os.listdir(data_dir)) == before  # no data file touched
    assert iceberg_snapshot(spark, base).count() == 25
    _, md = _tip(os.path.join(base, "metadata"))
    assert md["refs"]["main"]["snapshot-id"] == md["current-snapshot-id"]
    # rollback = move the ref back: instant
    snaps = sorted(s["snapshot-id"] for s in md["snapshots"])
    md2 = dict(md)
    md2["refs"] = dict(md["refs"])
    md2["refs"]["main"] = {"snapshot-id": snaps[0], "type": "branch"}
    md2["current-snapshot-id"] = snaps[0]
    from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
        _put_metadata_if_absent,
    )

    _put_metadata_if_absent(os.path.join(base, "metadata"), v + 1, md2)
    with open(os.path.join(base, "metadata", "version-hint.text"), "w") as fh:
        fh.write(str(v + 1))
    assert iceberg_snapshot(spark, base).count() == 12


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    """The fast-forward contract: if main advanced past the staged
    branch's lineage, publishing would DROP the concurrent commits —
    the guard refuses and names the cherry-pick path. Crucially the
    concurrent append moves ONLY current-snapshot-id (ordinary appends
    never touch refs['main']): the guard must treat the stale ref as
    non-authoritative and still refuse."""
    base, n = _fresh(spark, tmp_path, "wap_diverge")
    iceberg_append_to_branch(
        spark, base, n.filter("n_nationkey >= 12"), "b1.parquet", "audit"
    )
    # main advances concurrently (an ordinary append moves the tip —
    # current-snapshot-id only; refs['main'] is left stale on purpose)
    iceberg_append(
        spark, base, n.filter("n_nationkey = 0"), "concurrent.parquet"
    )
    _, md = _tip(os.path.join(base, "metadata"))
    assert (
        md["refs"]["main"]["snapshot-id"] != md["current-snapshot-id"]
    ), "precondition: the ref must be stale for this probe"
    with pytest.raises(ValueError, match="cherry-pick"):
        iceberg_fast_forward(spark, base, "audit")
    # and the concurrent lineage is intact: main still serves 13 rows
    assert iceberg_snapshot(spark, base).count() == 13


def test_append_to_branch_forks_from_current_tip(spark, tmp_path):
    """A NEW branch (no ref yet) must fork from current-snapshot-id,
    not a stale refs['main'] left behind by ordinary appends — else
    the staged world silently loses the latest main commits."""
    base, n = _fresh(spark, tmp_path, "wap_fork")
    # ordinary append advances current-snapshot-id; refs['main'] stale
    iceberg_append(
        spark, base, n.filter("n_nationkey = 12"), "extra.parquet"
    )
    iceberg_append_to_branch(
        spark, base, n.filter("n_nationkey > 12"), "b1.parquet", "audit"
    )
    # the branch world contains base(12) + extra(1) + staged(12) = 25
    assert iceberg_snapshot_by_ref(spark, base, "audit").count() == 25
