"""Batch DO pins — Delta copy-on-write UPDATE and MERGE INTO writers.

What the identity oracles can't certify: which files were (not)
rewritten, DV clearing on rewrite, single-commit atomicity, and the
stale-snapshot abort contract."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.catalog import load_table as t
from sap_cta_data_pipeline_spark.operators.delta_dml import (
    ConcurrentMergeError,
    delta_merge_into,
    delta_update_where,
)
from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _COMMIT_RE,
    _commit,
    _read_commit,
    delta_snapshot,
    _tip,
    delta_state,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    _build_sink_fixture,
    delta_delete_where,
)


def _clone_sink(spark, sf_dir, tmp_path, name: str) -> str:
    base = _build_sink_fixture(spark, sf_dir)
    clone = str(tmp_path / name)
    shutil.copytree(base, clone)
    os.remove(os.path.join(clone, "_FIXTURE_READY"))
    return clone


def _commits(base: str) -> list[int]:
    log_dir = os.path.join(base, "_delta_log")
    return sorted(
        int(m.group(1)) for f in os.listdir(log_dir) if (m := _COMMIT_RE.match(f))
    )


def test_update_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    base = _clone_sink(spark, sf_dir, tmp_path, "upd_affected")
    live0, *_ = delta_state(spark, base)
    # the sink fixture splits nation lo/hi; key 1 lives in exactly one file
    version, n_files = delta_update_where(
        spark, base, "n_nationkey = 1", {"n_name": "'PATCHED'"}
    )
    assert n_files == 1
    live1, *_ = delta_state(spark, base)
    untouched = set(live0) & set(live1)
    assert len(untouched) == len(live0) - 1, "exactly one file replaced"
    got = {
        r.n_nationkey: r.n_name
        for r in delta_snapshot(spark, base).select("n_nationkey", "n_name").collect()
    }
    assert got[1] == "PATCHED"
    assert len(got) == t(spark, sf_dir, "nation").count()


def test_update_applies_and_clears_dv(spark, sf_dir, tmp_path):
    base = _clone_sink(spark, sf_dir, tmp_path, "upd_dv")
    delta_delete_where(spark, base, "n_nationkey = 2")
    _, _, _, _, dvs0 = delta_state(spark, base)
    assert dvs0, "precondition: DELETE left a deletion vector"
    delta_update_where(
        spark, base, "n_nationkey % 5 = 1", {"n_regionkey": "n_regionkey + 10"}
    )
    live, _, _, _, dvs1 = delta_state(spark, base)
    # key 2 and key 1 share the low file: its rewrite materialized the DV
    assert not dvs1, "rewrite must drop the descriptor (DV applied in data)"
    keys = {r.n_nationkey for r in delta_snapshot(spark, base).collect()}
    assert 2 not in keys, "DV'd row must stay deleted through the rewrite"


def test_update_no_match_is_noop(spark, sf_dir, tmp_path):
    base = _clone_sink(spark, sf_dir, tmp_path, "upd_noop")
    tip0 = _tip(base)
    version, n_files = delta_update_where(
        spark, base, "n_nationkey = 999", {"n_name": "'X'"}
    )
    assert (version, n_files) == (tip0, 0)
    assert _commits(base)[-1] == tip0, "no commit for a zero-row UPDATE"


def test_update_refusals(spark, sf_dir, tmp_path):
    base = _clone_sink(spark, sf_dir, tmp_path, "upd_refuse")
    with pytest.raises(ValueError, match="unknown column"):
        delta_update_where(spark, base, "n_nationkey = 1", {"nope": "1"})


def test_merge_is_one_atomic_commit(spark, sf_dir, tmp_path):
    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_atomic")
    tip0 = _tip(base)
    n = t(spark, sf_dir, "nation").filter("n_nationkey < 3")
    src = n.select(
        "n_nationkey", F.lit("UPD").alias("n_name"), "n_regionkey"
    ).unionAll(
        n.select(
            (F.col("n_nationkey") + 200).cast("int").alias("n_nationkey"),
            F.lit("INS").alias("n_name"),
            "n_regionkey",
        )
    )
    version, n_rewritten, n_inserted = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name"]
    )
    assert version == tip0 + 1 and _commits(base)[-1] == version
    acts = _read_commit(os.path.join(base, "_delta_log"), version)
    removes = [a for a in acts if "remove" in a]
    adds = [a for a in acts if "add" in a]
    assert len(removes) == n_rewritten
    assert len(adds) == n_rewritten + 1, "rewrites + one insert file"
    assert n_inserted == 3
    got = {r.n_nationkey: r.n_name for r in delta_snapshot(spark, base).collect()}
    assert got[0] == got[1] == got[2] == "UPD"
    assert got[200] == got[201] == got[202] == "INS"


def test_merge_insert_only_when_no_matches(spark, sf_dir, tmp_path):
    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_insonly")
    n = t(spark, sf_dir, "nation").filter("n_nationkey < 2")
    src = n.select(
        (F.col("n_nationkey") + 300).cast("int").alias("n_nationkey"),
        "n_name",
        "n_regionkey",
    )
    version, n_rewritten, n_inserted = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name"]
    )
    assert (n_rewritten, n_inserted) == (0, 2)
    acts = _read_commit(os.path.join(base, "_delta_log"), version)
    assert not [a for a in acts if "remove" in a], "insert-only MERGE removes nothing"


def test_merge_aborts_on_concurrent_data_commit(spark, sf_dir, tmp_path, monkeypatch):
    """A data-changing commit stealing our version slot must ABORT the
    merge (stale read set), not blind-retry past it."""
    import sap_cta_data_pipeline_spark.operators.delta_reader as dr

    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_conflict")
    real_commit = _commit
    log_dir = os.path.join(base, "_delta_log")
    fired = {"done": False}

    def racing_commit(ld, version, actions):
        if not fired["done"]:
            fired["done"] = True
            # the interloper wins the slot with a dataChange add
            real_commit(
                ld,
                version,
                [
                    {
                        "add": {
                            "path": "interloper.parquet",
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                ],
            )
        return real_commit(ld, version, actions)

    monkeypatch.setattr(dr, "_commit", racing_commit)
    n = t(spark, sf_dir, "nation").filter("n_nationkey < 2")
    src = n.select("n_nationkey", F.lit("U").alias("n_name"), "n_regionkey")
    with pytest.raises(ConcurrentMergeError):
        delta_merge_into(spark, base, src, "n_nationkey", ["n_name"])


def test_merge_retries_past_metadata_only_commit(spark, sf_dir, tmp_path, monkeypatch):
    """A metadata-only interloper (no dataChange) cannot invalidate the
    rewrite — the writer retries at the next version and lands."""
    import sap_cta_data_pipeline_spark.operators.delta_reader as dr

    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_meta_ok")
    real_commit = _commit
    fired = {"done": False}

    def racing_commit(ld, version, actions):
        if not fired["done"]:
            fired["done"] = True
            real_commit(
                ld, version, [{"commitInfo": {"operation": "HOUSEKEEPING"}}]
            )
        return real_commit(ld, version, actions)

    monkeypatch.setattr(dr, "_commit", racing_commit)
    n = t(spark, sf_dir, "nation").filter("n_nationkey < 2")
    src = n.select("n_nationkey", F.lit("U2").alias("n_name"), "n_regionkey")
    version, n_rewritten, _ = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name"]
    )
    assert n_rewritten == 1
    got = {r.n_nationkey: r.n_name for r in delta_snapshot(spark, base).collect()}
    assert got[0] == got[1] == "U2"


def test_merge_explicit_null_in_source_sets_null(spark, sf_dir, tmp_path):
    """SQL MERGE semantics: a source row carrying NULL in an update
    column SETS NULL on the matched target row — coalesce would have
    silently kept the target value."""
    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_nullset")
    n = t(spark, sf_dir, "nation").filter("n_nationkey = 1")
    src = n.select(
        "n_nationkey",
        F.lit(None).cast("string").alias("n_name"),
        "n_regionkey",
    )
    _, n_rewritten, n_inserted = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name"]
    )
    assert (n_rewritten, n_inserted) == (1, 0)
    got = {r.n_nationkey: r.n_name for r in delta_snapshot(spark, base).collect()}
    assert got[1] is None
    assert got[0] is not None, "unmatched rows keep their values"


def test_merge_duplicate_source_keys_raise(spark, sf_dir, tmp_path):
    """Delta MERGE raises when multiple source rows match one target row
    instead of silently multiplying it."""
    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_dupsrc")
    n = t(spark, sf_dir, "nation").filter("n_nationkey < 2")
    src = n.select("n_nationkey", "n_name", "n_regionkey")
    with pytest.raises(ValueError, match="duplicate"):
        delta_merge_into(spark, base, src.unionAll(src), "n_nationkey", ["n_name"])


def _clone_colmap(spark, sf_dir, tmp_path, name: str) -> str:
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _build_colmap_fixture,
    )

    base = _build_colmap_fixture(spark, sf_dir)
    clone = str(tmp_path / name)
    shutil.copytree(base, clone)
    os.remove(os.path.join(clone, "_FIXTURE_READY"))
    return clone


def test_colmap_update_writes_physical_names(spark, sf_dir, tmp_path):
    """Column-mapped UPDATE: logical predicate/assignment, rewritten file
    carries PHYSICAL column names (writer-native layout)."""
    base = _clone_colmap(spark, sf_dir, tmp_path, "cm_upd")
    version, n_files = delta_update_where(
        spark, base, "n_nationkey = 1", {"n_name": "'PATCHED'"}
    )
    assert n_files == 1
    got = {
        r.n_nationkey: r.n_name
        for r in delta_snapshot(spark, base).select("n_nationkey", "n_name").collect()
    }
    assert got[1] == "PATCHED" and got[0] != "PATCHED"
    # the staged rewrite file stores physical names only
    live, *_ = delta_state(spark, base)
    (new_rel,) = [p for p in live if p.startswith("upd-")]
    raw_cols = spark.read.parquet(os.path.join(base, new_rel)).columns
    assert all(c.startswith("col-") for c in raw_cols), raw_cols


def test_colmap_rename_then_update(spark, sf_dir, tmp_path):
    """Rename-then-update pin (round-8 verdict ask #4): after a logical
    RENAME (new metaData, same physicalName — the instant-rename column
    mapping exists for), an UPDATE addressing the NEW logical name hits
    the same physical column."""
    import json as _json

    from sap_cta_data_pipeline_spark.operators.delta_reader import _commit

    base = _clone_colmap(spark, sf_dir, tmp_path, "cm_ren")
    _, schema_string, _, config, _ = delta_state(spark, base)
    sch = _json.loads(schema_string)
    (nf,) = [f for f in sch["fields"] if f["name"] == "n_name"]
    nf["name"] = "n_label"  # logical rename; physicalName untouched
    _commit(
        os.path.join(base, "_delta_log"),
        _tip(base) + 1,
        [
            {
                "metaData": {
                    "id": "colmap-table",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(sch),
                    "partitionColumns": [],
                    "configuration": dict(config),
                }
            }
        ],
    )
    version, n_files = delta_update_where(
        spark, base, "n_label = 'NATION_3'", {"n_label": "'RENAMED-HIT'"}
    )
    assert n_files == 1
    got = {r.n_nationkey: r.n_label for r in delta_snapshot(spark, base).collect()}
    assert got[3] == "RENAMED-HIT"
    assert "NATION_3" not in set(got.values())


def test_colmap_merge_into(spark, sf_dir, tmp_path):
    """MERGE INTO a column-mapped table: logical-named source, physical
    staging; update + insert both land."""
    base = _clone_colmap(spark, sf_dir, tmp_path, "cm_mrg")
    src = spark.createDataFrame(
        [(1, "UPD", 9), (200, "INS", 9)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    version, n_rewritten, n_inserted = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name", "n_regionkey"]
    )
    assert (n_rewritten, n_inserted) == (1, 1)
    got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in delta_snapshot(spark, base).collect()}
    assert got[1] == ("UPD", 9) and got[200] == ("INS", 9)
    live, *_ = delta_state(spark, base)
    for p in live:
        if p.startswith("mrg-"):
            cols = spark.read.parquet(os.path.join(base, p)).columns
            assert all(c.startswith("col-") for c in cols), (p, cols)


def test_colmap_delete_dv(spark, sf_dir, tmp_path):
    """DV DELETE on a column-mapped table with the predicate on a MAPPED
    column; no data file rewritten."""
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        delta_delete_where,
    )

    base = _clone_colmap(spark, sf_dir, tmp_path, "cm_del")
    live0, *_ = delta_state(spark, base)
    version, n_deleted = delta_delete_where(spark, base, "n_regionkey = 2")
    assert n_deleted > 0
    live1, _, _, _, dvs = delta_state(spark, base)
    assert set(live0) == set(live1), "DV delete must not rewrite data files"
    assert dvs, "descriptor recorded"
    got = delta_snapshot(spark, base)
    assert got.filter("n_regionkey = 2").count() == 0
    assert got.count() > 0


def test_colmap_probe_pushes_predicate_to_physical_scan(spark, sf_dir, tmp_path):
    """S19 claim, pinned: under column mapping the DML probe's logical
    predicate reaches the parquet scan as a pushed filter on the
    PHYSICAL column name (Catalyst pushes the filter below the rename
    project)."""
    import contextlib
    import io
    import json as _json

    from pyspark.sql import types as _T

    from sap_cta_data_pipeline_spark.operators.delta_dml import (
        _phys_map,
        _tagged_read,
    )

    base = _clone_colmap(spark, sf_dir, tmp_path, "cm_plan")
    live, schema_string, part_cols, config, _ = delta_state(spark, base)
    schema = _T.StructType.fromJson(_json.loads(schema_string))
    phys_of = _phys_map(schema, config)
    assert phys_of is not None and phys_of["n_nationkey"].startswith("col-")
    probe = _tagged_read(
        spark,
        base,
        [os.path.abspath(os.path.join(base, p)) for p in live],
        schema,
        phys_of,
    ).where("n_nationkey = 1")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    phys = phys_of["n_nationkey"]
    assert f"EqualTo(`{phys}`,1)" in plan or f"EqualTo({phys},1)" in plan, plan


def test_merge_partitioned_routing_and_refusals(spark, sf_dir, tmp_path):
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        delta_append_partitioned,
    )

    base = str(tmp_path / "mp")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    delta_append_partitioned(spark, base, n, "n_regionkey")
    live0, *_ = delta_state(spark, base)
    rk = dict(n.dtypes)["n_regionkey"]
    nk = dict(n.dtypes)["n_nationkey"]
    src = n.filter("n_nationkey = 1").withColumn(
        "n_name", F.lit("UPD")
    ).unionByName(
        spark.createDataFrame(
            [(300, "NEWROW", 9)], "n_nationkey int, n_name string, n_regionkey int"
        ).select(F.col("n_nationkey").cast(nk), "n_name", F.col("n_regionkey").cast(rk))
    )
    version, n_rewritten, n_inserted = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name"]
    )
    assert (n_rewritten, n_inserted) == (1, 1)
    live1, *_ = delta_state(spark, base)
    # rewritten file keeps its partitionValues; new partition 9 appears
    pvs = {tuple(sorted(v.items())) for v in live1.values()}
    assert (("n_regionkey", "9"),) in pvs
    # partition pruning still plans exactly the region-9 file
    got = delta_snapshot(spark, base, partition_filter={"n_regionkey": "9"})
    rows = got.collect()
    assert [r.n_nationkey for r in rows] == [300]
    assert rows[0].n_regionkey == 9, "reader reconstructs the routed partition"
    snap = {r.n_nationkey: r.n_name for r in delta_snapshot(spark, base).collect()}
    assert snap[1] == "UPD" and snap[300] == "NEWROW"
    assert len(snap) == n.count() + 1

    with pytest.raises(NotImplementedError, match="partition column"):
        delta_merge_into(spark, base, src, "n_regionkey", ["n_name"])
    with pytest.raises(NotImplementedError, match="moves rows"):
        delta_merge_into(spark, base, src, "n_nationkey", ["n_regionkey"])


def test_merge_pure_delete_emits_remove_only(spark, sf_dir, tmp_path):
    """Round-11 advice: when the CDC delete branch drops EVERY row of a
    matched file, the commit carries the remove WITHOUT a zero-row
    re-add — repeated pure-delete windows must not accumulate empty
    parquet files (Delta never re-adds an empty file either)."""
    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_puredel")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    src = n.withColumn("__drop", F.lit(True))
    version, n_rewritten, n_inserted = delta_merge_into(
        spark, base, src, "n_nationkey", ["n_name"], delete_col="__drop"
    )
    assert n_inserted == 0
    acts = _read_commit(os.path.join(base, "_delta_log"), version)
    removes = [a for a in acts if "remove" in a]
    adds = [a for a in acts if "add" in a]
    assert len(removes) == n_rewritten and n_rewritten > 0
    assert adds == [], "pure-delete rewrite is remove-only"
    assert delta_snapshot(spark, base).count() == 0
    # and no orphaned zero-row parquet was left staged
    data_files = [
        f for f in os.listdir(base)
        if f.endswith(".parquet") and f.startswith("mrg-")
    ]
    assert data_files == []


def test_merge_evolution_no_data_noop_commits_schema(spark, sf_dir, tmp_path):
    """The documented no-op asymmetry (round-11 advice): a MERGE that
    matches nothing and inserts nothing normally does NOT commit, but
    WITH SCHEMA EVOLUTION and new source columns it still commits the
    widened metaData as a metadata-only version — the evolution is the
    durable effect the user asked for."""
    base = _clone_sink(spark, sf_dir, tmp_path, "mrg_evnoop")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    empty = n.withColumn("n_extra", F.lit(1).cast("int")).filter("1 = 0")
    tip0 = _tip(base)
    # non-evolution empty-source MERGE: no commit at all
    v0, nr0, ni0 = delta_merge_into(
        spark, base, empty.drop("n_extra"), "n_nationkey", ["n_name"]
    )
    assert (v0, nr0, ni0) == (tip0, 0, 0) and _commits(base)[-1] == tip0
    # evolution: the widened schema commits even though no row changed
    v1, nr1, ni1 = delta_merge_into(
        spark, base, empty, "n_nationkey", ["n_name", "n_extra"],
        schema_evolution=True,
    )
    assert (nr1, ni1) == (0, 0) and v1 == tip0 + 1
    acts = _read_commit(os.path.join(base, "_delta_log"), v1)
    assert any("metaData" in a for a in acts)
    assert not [a for a in acts if "add" in a or "remove" in a]
    assert "n_extra" in delta_snapshot(spark, base).columns
