"""Batch EY pins — what the identity oracles can't certify: z-order
layout + stats on the adds, expiry's time-travel refusal, and the
expire→orphan-cleanup reclaim composition."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.catalog import load_table as t
from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _COMMIT_RE,
    _read_commit,
    delta_snapshot,
    delta_state,
)
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    iceberg_append,
    iceberg_snapshot,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    _build_sink_fixture,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_maintenance import (
    delta_optimize_zorder,
    iceberg_expire_snapshots,
)
from sap_cta_data_pipeline_spark.operators.training_prep import _morton_sql


def test_zorder_layout_stats_and_time_travel(spark, sf_dir, tmp_path):
    base = _build_sink_fixture(spark, sf_dir)
    clone = str(tmp_path / "z")
    shutil.copytree(base, clone)
    os.remove(os.path.join(clone, "_FIXTURE_READY"))
    before = sorted(map(tuple, delta_snapshot(spark, clone).collect()))
    version = delta_optimize_zorder(spark, clone, "n_nationkey", "n_regionkey")
    after = sorted(map(tuple, delta_snapshot(spark, clone).collect()))
    assert after == before, "OPTIMIZE must not change content"

    live, *_ = delta_state(spark, clone)
    zfiles = sorted(p for p in live if p.startswith("part-zorder-"))
    assert len(zfiles) == 2 and set(live) == set(zfiles)
    # each file is internally morton-sorted; files cover disjoint z-ranges
    ranges = []
    for p in zfiles:
        df = spark.read.parquet(os.path.join(clone, p)).withColumn(
            "__z", F.expr(_morton_sql("n_nationkey", "n_regionkey"))
        )
        zs = [r["__z"] for r in df.select("__z").collect()]
        # parquet preserves the staged row order of a single file
        assert zs == sorted(zs), f"{p} not z-ordered"
        ranges.append((min(zs), max(zs)))
    ranges.sort()
    assert ranges[0][1] <= ranges[1][0], "z-ranges must not interleave"

    # add actions carry the two-column stats and dataChange:false
    acts = _read_commit(os.path.join(clone, "_delta_log"), version)
    adds = [a["add"] for a in acts if "add" in a]
    assert len(adds) == 2
    for a in adds:
        assert a["dataChange"] is False
        st = json.loads(a["stats"])
        assert set(st["minValues"]) == {"n_nationkey", "n_regionkey"}
        assert st["numRecords"] > 0
    removes = [a["remove"] for a in acts if "remove" in a]
    assert all(r["dataChange"] is False for r in removes)

    # pre-OPTIMIZE version still time-travels to the old layout
    old = delta_snapshot(spark, clone, version=version - 1)
    assert sorted(map(tuple, old.collect())) == before


@pytest.mark.parametrize("kind", ["compact", "zorder"])
def test_second_optimize_keeps_older_versions(spark, sf_dir, tmp_path, kind):
    """Each OPTIMIZE stages fresh file names: a later rewrite never
    overwrites a file an older version still references, so time travel
    to the versions before it keeps their own rows."""
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        delta_delete_where,
        delta_optimize_compact,
    )

    base = _build_sink_fixture(spark, sf_dir)
    clone = str(tmp_path / kind)
    shutil.copytree(base, clone)
    os.remove(os.path.join(clone, "_FIXTURE_READY"))

    def optimize() -> int:
        if kind == "compact":
            return delta_optimize_compact(spark, clone)
        return delta_optimize_zorder(spark, clone, "n_nationkey", "n_regionkey")

    v_opt = optimize()
    v_del, _ = delta_delete_where(spark, clone, "n_nationkey < 5")
    optimize()
    assert delta_snapshot(spark, clone, version=v_opt).count() == 25
    assert delta_snapshot(spark, clone, version=v_del).count() == 20
    assert delta_snapshot(spark, clone).count() == 20


def test_expire_snapshots_and_orphan_reclaim(spark, sf_dir, tmp_path):
    from sap_cta_data_pipeline_spark.operators.surface23 import (
        iceberg_referenced_files,
        iceberg_remove_orphans,
    )

    base = str(tmp_path / "exp")
    n = t(spark, sf_dir, "nation")
    iceberg_append(spark, base, n.filter("n_nationkey < 8"), "a0.parquet")
    iceberg_append(
        spark, base, n.filter("n_nationkey >= 8 AND n_nationkey < 16"), "a1.parquet"
    )
    iceberg_append(spark, base, n.filter("n_nationkey >= 16"), "a2.parquet")

    import sap_cta_data_pipeline_spark.operators.iceberg_reader as ir

    meta = ir._load_metadata(base)
    sids = sorted(s["snapshot-id"] for s in meta["snapshots"])
    assert len(sids) == 3
    before = sorted(map(tuple, iceberg_snapshot(spark, base).collect()))

    _, expired = iceberg_expire_snapshots(spark, base, keep_last=2)
    assert expired == [sids[0]]
    # current read identical; expired snapshot unreachable
    assert sorted(map(tuple, iceberg_snapshot(spark, base).collect())) == before
    with pytest.raises(ValueError, match="unknown Iceberg snapshot-id"):
        iceberg_snapshot(spark, base, snapshot_id=sids[0])
    # kept snapshots still time-travel
    assert iceberg_snapshot(spark, base, snapshot_id=sids[1]).count() == 16

    # expiry shrinks the keep-set; appends write ONE file per snapshot
    # (a0 stays referenced by kept snapshots' full manifest lists here,
    # so plant an orphan only the expired snapshot could have named)
    keep = iceberg_referenced_files(base)
    assert "data/a0.parquet" in keep, "file reachable from kept snapshots stays"
    deleted = iceberg_remove_orphans(base)
    assert deleted == []  # nothing unreferenced yet
    # expiring down to 1 snapshot: append-writer manifest lists are
    # cumulative, so a0/a1 stay referenced by the final snapshot — the
    # keep-set is exactly the final snapshot's reachable set
    iceberg_expire_snapshots(spark, base, keep_last=1)
    keep1 = iceberg_referenced_files(base)
    assert {"data/a0.parquet", "data/a1.parquet", "data/a2.parquet"} <= keep1
    assert sorted(map(tuple, iceberg_snapshot(spark, base).collect())) == before


def test_expire_refuses_dropping_current(spark, sf_dir, tmp_path):
    base = str(tmp_path / "exp2")
    n = t(spark, sf_dir, "nation")
    iceberg_append(spark, base, n.filter("n_nationkey < 8"), "a0.parquet")
    v, expired = iceberg_expire_snapshots(spark, base, keep_last=5)
    assert expired == []  # fewer snapshots than keep_last — no-op
    with pytest.raises(ValueError, match="keep_last"):
        iceberg_expire_snapshots(spark, base, keep_last=0)
