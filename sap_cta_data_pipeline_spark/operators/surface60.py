"""§2 round-11 batch GJ — CDC apply: changelog-driven replication.

Batches GA/GC produce a consumable change feed from Iceberg metadata;
this batch closes the loop by APPLYING one: the update-pair view of an
Iceberg window drives a Delta MERGE whose source carries a delete flag
(``delta_merge_into(delete_col=...)`` — the ``WHEN MATCHED AND flag
THEN DELETE`` branch), replicating the source table's state change into
an independent Delta table. This is the standard cross-format CDC
replication shape: reader-side changelog (no log on the source table)
→ net per-key feed → keyed MERGE on the target.

Feed contract: drop ``update_preimage`` rows (the postimage carries the
key and the new values; the preimage is for consumers that diff), map
``delete`` → flagged rows, everything else upserts. Identifier
uniqueness per commit is enforced upstream by ``changelog_updates``
(batch GC's refusal), which is exactly the precondition the MERGE's own
duplicate-source-key refusal re-checks.

Scale: the feed is O(changed data) end to end (batch GA's planning);
the apply is one keyed MERGE — matched-file rewrites bounded by files
the changed keys actually live in, one insert file, one atomic commit.
A 100 TB target absorbing a 1 GB daily change window does 1 GB of feed
work plus the rewrite of the touched files, never a table scan.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, table_path
from ..registry import query
from .delta_dml import delta_merge_into
from .delta_reader import delta_snapshot
from .iceberg_reader import (
    _NATION_ICEBERG_FIELDS,
    _entry,
    _manifest,
    _new_table,
    _snapshot,
    _write_parquet_file,
    commit as iceberg_commit,
)
from .lakehouse_interop import delta_append_commit
from .sources import built
from .surface54 import iceberg_changelog
from .surface56 import changelog_updates


def _build_cdc_source_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Two Iceberg snapshots (the surface56 rewrite-fixture shape with a
    delete and an insert added): 5001 = nation in one file; 5002 = CoW
    rewrite with keys < 5 renamed '-v2', key 7 DELETED, key 100
    INSERTED — so the update-pair feed exercises all three verbs."""
    import pandas as pd
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = (
        tbl.to_pandas()[["n_nationkey", "n_name", "n_regionkey"]]
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    pdf2 = pdf.copy()
    sel = pdf2.n_nationkey < 5
    pdf2.loc[sel, "n_name"] = pdf2.loc[sel, "n_name"] + "-v2"
    pdf2 = pdf2[pdf2.n_nationkey != 7]
    pdf2 = pd.concat(
        [pdf2, pd.DataFrame([{"n_nationkey": 100, "n_name": "NEW-100",
                              "n_regionkey": 0}])],
        ignore_index=True,
    ).sort_values("n_nationkey").reset_index(drop=True)
    schema = tbl.select(["n_nationkey", "n_name", "n_regionkey"]).schema
    _write_parquet_file(schema, pdf, os.path.join(base, "data", "v1.parquet"))
    _write_parquet_file(schema, pdf2, os.path.join(base, "data", "v2.parquet"))
    md = _new_table(base, _NATION_ICEBERG_FIELDS, uuid="cdc-apply-fixture")
    m1 = _manifest(
        base, md, "m-v1.avro", [_entry(base, "v1.parquet", 0, len(pdf))],
        0, 5001, 1,
    )
    m2 = _manifest(
        base, md, "m-v2.avro", [_entry(base, "v2.parquet", 0, len(pdf2))],
        0, 5002, 2,
    )
    md = _snapshot(
        base, md, [m1], "append", snap_id=5001, seq=1, ts=1700000001000
    )
    md = _snapshot(
        base, md, [m2], "overwrite", snap_id=5002, seq=2, ts=1700000002000
    )
    iceberg_commit(base, lambda _v, _prev: md)


def cdc_feed(chg: DataFrame, id_cols: list[str], value_cols: list[str]) -> DataFrame:
    """Raw changelog → net per-key MERGE source: reconcile through the
    update-pair view (carryovers drop, CoW noise collapses), drop
    preimages, flag deletes. Output = id + value columns + __cdc_del."""
    pairs = changelog_updates(chg, id_cols, value_cols)
    return (
        pairs.filter(F.col("change_type") != "update_preimage")
        .withColumn("__cdc_del", F.col("change_type") == "delete")
        .select(*id_cols, *value_cols, "__cdc_del")
    )


@query(
    "delta_merge_cdc_apply",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 5 THEN n_name || '-v2'
                ELSE n_name END AS n_name,
           n_regionkey
    FROM nation WHERE n_nationkey <> 7
    UNION ALL
    SELECT 100, 'NEW-100', 0
    """,
)
def delta_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cross-format CDC replication: a Delta target seeded
    from Iceberg snapshot 5001 absorbs the 5001→5002 changelog (CoW
    rewrite renaming keys<5, deleting key 7, inserting key 100) through
    ONE MERGE with the delete branch — updates rewrite matched files,
    the delete drops its row in the rewrite, the insert lands in a
    fresh file, all in one atomic Delta commit. The final Delta state
    is value-oracled against the expected source state cell-by-cell.
    Pure-delete file rewrites, unmatched-delete no-ops, and the
    flag-column hygiene (never reaches the table) are pinned in
    tests/test_surface60.py."""
    src_base = built(
        sf_dir,
        "iceberg_cdc_apply_src",
        partial(_build_cdc_source_fixture, spark, sf_dir),
    )

    def build(tgt: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        # seed = snapshot 5001's state (== nation), two files so the
        # delete and an update land in DIFFERENT rewrite groups
        delta_append_commit(
            spark, tgt, n.filter("n_nationkey < 12"), "seed-lo.parquet",
            first=True,
        )
        delta_append_commit(
            spark, tgt, n.filter("n_nationkey >= 12"), "seed-hi.parquet"
        )
        raw = iceberg_changelog(spark, src_base, 5001, 5002)
        feed = cdc_feed(raw, ["n_nationkey"], ["n_name", "n_regionkey"])
        delta_merge_into(
            spark, tgt, feed, "n_nationkey",
            ["n_name", "n_regionkey"], delete_col="__cdc_del",
        )

    tgt = built(sf_dir, "delta_cdc_apply_tgt", build)
    return delta_snapshot(spark, tgt).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
