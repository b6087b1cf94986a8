"""Batch DY pins — Hudi CoW upsert writer lifecycle/slice semantics and
MoR compaction invariants."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.operators.hudi_write import (
    hudi_cow_upsert,
    hudi_mor_compact,
)
from sap_cta_data_pipeline_spark.operators.hudi_timeline import (
    base_files,
    file_slices,
)
from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
    hudi_cow_snapshot,
)


def test_cow_upsert_lifecycle_and_slices(spark, tmp_path):
    base = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    )
    i1 = hudi_cow_upsert(spark, base, df1, "k")
    tl = os.path.join(base, ".hoodie")
    assert os.path.exists(os.path.join(tl, f"{i1}.commit"))
    # lifecycle markers are cleaned up after completion
    assert not os.path.exists(os.path.join(tl, f"{i1}.requested"))
    assert not os.path.exists(os.path.join(tl, f"{i1}.inflight"))
    g1 = base_files(base)
    assert len(g1) == 1  # one insert group

    # update k=1, insert k=3 → group 1 rewritten (same fileId, new
    # slice), one new group for the insert
    df2 = spark.createDataFrame([(1, "A"), (3, "c")], "k int, v string")
    i2 = hudi_cow_upsert(spark, base, df2, "k")
    g2 = base_files(base)
    assert set(g2) > set(g1) and len(g2) == 2
    (fid1,) = g1
    assert g2[fid1].endswith(f"_{i2}.parquet"), "rewritten slice at new instant"
    got = {
        r.k: r.v for r in hudi_cow_snapshot(spark, base).collect()
    }
    assert got == {1: "A", 2: "b", 3: "c"}

    # a batch touching NO existing keys must not rewrite any group
    df3 = spark.createDataFrame([(9, "z")], "k int, v string")
    hudi_cow_upsert(spark, base, df3, "k")
    g3 = base_files(base)
    assert g3[fid1] == g2[fid1], "untouched group keeps its slice"
    assert len(g3) == 3


def test_cow_upsert_meta_columns(spark, tmp_path):
    base = str(tmp_path / "m")
    hudi_cow_upsert(
        spark,
        base,
        spark.createDataFrame([(7, "x")], "k int, v string"),
        "k",
    )
    (rel,) = base_files(base).values()
    raw = spark.read.parquet(os.path.join(base, rel))
    assert raw.columns[:2] == ["_hoodie_commit_time", "_hoodie_record_key"]
    r = raw.collect()[0]
    assert r._hoodie_record_key == "7"


def test_mor_compaction_resets_logs_and_preserves_snapshot(spark, sf_dir, tmp_path):
    from sap_cta_data_pipeline_spark.operators.hudi_mor import (
        _build_mor_fixture,
        hudi_mor_snapshot,
    )

    src = _build_mor_fixture(spark, sf_dir)
    base = str(tmp_path / "mor")
    shutil.copytree(src, base)
    before = sorted(map(tuple, hudi_mor_snapshot(spark, base).collect()))
    pre_state = file_slices(base)
    assert any(logs for _, logs in pre_state.values()), "fixture has logs"
    instant = hudi_mor_compact(spark, base)
    after_state = file_slices(base)
    assert all(not logs for _, logs in after_state.values()), "logs reset"
    assert all(
        p is not None and p.endswith(f"_{instant}.parquet")
        for p, _ in after_state.values()
    )
    after = sorted(map(tuple, hudi_mor_snapshot(spark, base).collect()))
    assert after == before, "compaction never changes the snapshot"
    # pre-compaction time travel still replays the log path
    tt = file_slices(base, as_of="002")
    assert any(logs for _, logs in tt.values())
    # tombstoned keys are physically gone from the compacted base
    (bp, _), = [v for v in after_state.values()]
    raw = spark.read.parquet(os.path.join(base, bp))
    assert raw.filter(F.col("n_nationkey") % 5 == 0).count() == 0


def test_next_instant_width_discipline(tmp_path):
    import pytest

    from sap_cta_data_pipeline_spark.operators.hudi_timeline import (
        _INSTANT_WIDTH,
        _next_instant,
    )

    # new tables start at Hudi-style 14-digit width
    tl_new = str(tmp_path / "new")
    os.makedirs(tl_new)
    first = _next_instant(tl_new)
    assert first == f"{1:0{_INSTANT_WIDTH}d}"
    open(os.path.join(tl_new, f"{first}.commit"), "w").close()
    assert _next_instant(tl_new) == f"{2:0{_INSTANT_WIDTH}d}"

    # legacy narrow tables continue their width...
    tl_old = str(tmp_path / "old")
    os.makedirs(tl_old)
    open(os.path.join(tl_old, "001.commit"), "w").close()
    assert _next_instant(tl_old) == "002"
    # ...and refuse to overflow it (999 -> 1000 would break lexicographic
    # timeline ordering)
    open(os.path.join(tl_old, "999.commit"), "w").close()
    with pytest.raises(ValueError, match="overflow"):
        _next_instant(tl_old)


def test_mor_compaction_multi_group_no_duplication(spark, tmp_path):
    """Compacting a table with TWO pending file groups must write each
    group's own keys into its new base — not the whole-table snapshot
    into every group (which would duplicate all rows)."""
    import json

    from pyspark.sql import types as T

    from sap_cta_data_pipeline_spark.operators.hudi_mor import (
        _AVRO_DATA_BLOCK,
        _H_INSTANT_TIME,
        _H_SCHEMA,
        _log_record_schema,
        encode_avro_data_block,
        hudi_mor_snapshot,
        write_log_block,
    )
    from sap_cta_data_pipeline_spark.operators.lakehouse_interop import (
        _stage_single_parquet,
    )

    base = str(tmp_path / "mg")
    os.makedirs(base)

    def _based(rows, rel):
        df = spark.createDataFrame(rows, "k int, v string").select(
            F.lit("001").alias("_hoodie_commit_time"),
            F.col("k").cast("string").alias("_hoodie_record_key"),
            "k",
            "v",
        )
        _stage_single_parquet(df, os.path.join(base, rel))

    _based([(1, "a"), (2, "b")], "fg-a_0-0-0_001.parquet")
    _based([(11, "x"), (12, "y")], "fg-b_0-0-0_001.parquet")

    avro_schema = _log_record_schema(
        T.StructType(
            [
                T.StructField("_hoodie_record_key", T.StringType()),
                T.StructField("k", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("_hoodie_is_deleted", T.BooleanType()),
            ]
        )
    )

    def _log(rel, recs):
        hdr = {_H_INSTANT_TIME: "002", _H_SCHEMA: json.dumps(avro_schema)}
        with open(os.path.join(base, rel), "wb") as fh:
            write_log_block(
                fh, _AVRO_DATA_BLOCK, hdr, encode_avro_data_block(avro_schema, recs)
            )

    _log(
        "fg-a_0-0-0.log.1_002",
        [{"_hoodie_record_key": "1", "k": 1, "v": "A", "_hoodie_is_deleted": False}],
    )
    _log(
        "fg-b_0-0-0.log.1_002",
        [{"_hoodie_record_key": "11", "k": 11, "v": "X", "_hoodie_is_deleted": False}],
    )

    tl = os.path.join(base, ".hoodie")
    os.makedirs(tl)
    with open(os.path.join(tl, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=mg\nhoodie.table.type=MERGE_ON_READ\n")
    with open(os.path.join(tl, "001.commit"), "w") as fh:
        json.dump(
            {
                "partitionToWriteStats": {
                    "": [
                        {"fileId": "fg-a", "path": "fg-a_0-0-0_001.parquet"},
                        {"fileId": "fg-b", "path": "fg-b_0-0-0_001.parquet"},
                    ]
                }
            },
            fh,
        )
    with open(os.path.join(tl, "002.deltacommit"), "w") as fh:
        json.dump(
            {
                "partitionToWriteStats": {
                    "": [
                        {"fileId": "fg-a", "path": "fg-a_0-0-0.log.1_002"},
                        {"fileId": "fg-b", "path": "fg-b_0-0-0.log.1_002"},
                    ]
                }
            },
            fh,
        )

    before = sorted(map(tuple, hudi_mor_snapshot(spark, base).collect()))
    assert before == [(1, "A"), (2, "b"), (11, "X"), (12, "y")]
    hudi_mor_compact(spark, base)
    after_state = file_slices(base)
    assert set(after_state) == {"fg-a", "fg-b"}
    assert all(not logs for _, logs in after_state.values())
    after = sorted(map(tuple, hudi_mor_snapshot(spark, base).collect()))
    assert after == before, "no duplication across groups"
    # each compacted base holds ONLY its own group's keys
    keys_by_fid = {
        fid: sorted(
            r.k
            for r in spark.read.parquet(os.path.join(base, p)).collect()
        )
        for fid, (p, _) in after_state.items()
    }
    assert keys_by_fid == {"fg-a": [1, 2], "fg-b": [11, 12]}


def test_each_instant_records_its_operation(spark, sf_dir, tmp_path, monkeypatch):
    """Every completed instant records the operation that wrote it: the
    MoR upserts' deltacommits say upsert, compaction's commit says
    compact, and a CoW delete says delete."""
    import json

    import sap_cta_data_pipeline_spark.operators.sources as m
    from sap_cta_data_pipeline_spark.catalog import load_table
    from sap_cta_data_pipeline_spark.operators.surface66 import hudi_delete
    from sap_cta_data_pipeline_spark.operators.surface67 import (
        _build_mor_upsert_fixture,
    )

    def operations(base):
        tl = os.path.join(base, ".hoodie")
        out = {}
        for f in sorted(os.listdir(tl)):
            if f.endswith("commit"):
                with open(os.path.join(tl, f)) as fh:
                    out[f] = json.load(fh)["operation"]
        return out

    monkeypatch.setattr(m, "_scratch", lambda sf, name: str(tmp_path / name))
    mor = _build_mor_upsert_fixture(spark, sf_dir)
    compacted = hudi_mor_compact(spark, mor)
    assert operations(mor) == {
        "00000000000001.deltacommit": "upsert",
        "00000000000002.deltacommit": "upsert",
        f"{compacted}.commit": "compact",
    }
    cow = str(tmp_path / "cow")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    hudi_cow_upsert(spark, cow, n, "n_nationkey")
    deleted, _ = hudi_delete(spark, cow, "n_regionkey = 1")
    assert operations(cow) == {
        "00000000000001.commit": "upsert",
        f"{deleted}.commit": "delete",
    }
