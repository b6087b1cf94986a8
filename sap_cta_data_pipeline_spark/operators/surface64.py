"""§2 round-12 batch GN — lineage-paired changelog updates.

Round-10 shipped Iceberg v3 row lineage READS (surface51: durable
``_row_id`` + ``_last_updated_sequence_number`` via the inheritance
rule) and round-10/11 shipped the identifier-based changelog pipeline
(surface54 raw feed → surface56 update-pair view). This batch composes
them — the reason row lineage EXISTS:

``changelog_updates`` needs caller-named identifier columns and refuses
duplicates; worse, it structurally CANNOT pair a rewrite that changes
the identifier itself (a renamed key degrades to unrelated
DELETE + INSERT — the consumer loses the row's continuity).
``iceberg_changelog_lineage`` carries each row's durable ``row_id``
through the window diff, and ``iceberg_changelog_updates_by_lineage``
pairs pre/postimages ON ``row_id``:

- no identifier columns needed — the table's own row identity pairs;
- rename-proof — a rewrite that changes the natural key still pairs as
  ONE update (pinned against the identifier-based view, which emits
  delete+insert for the same window);
- carryovers (identical values, row merely moved files) drop exactly
  as in the identifier view — the reconcile IS surface56's single-pass
  aggregate, keyed on ``row_id``.

Refusals, house style: a non-v3 table has no lineage to pair
(``lineage_files``'s refusal propagates); a window whose endpoints
carry DELETE manifests is refused — position-delete diffing under
lineage needs per-row id recovery for dead rows, a surface this lane
does not claim (the identifier-based changelog handles those windows).

Scale: identical envelope to batch GA — the window diff is two
metadata walks keyed on (path, sequence); row emission scans only
added/removed files; lineage adds ONE broadcast (file → first_row_id,
seq) map, metadata-sized. The reconcile is one keyed aggregation on
``row_id`` — a surrogate bigint with no skew pathology (every key is
unique by construction, the ideal shuffle key at 100 TB).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .iceberg_reader import (
    _NATION_ICEBERG_FIELDS,
    _entry,
    _load_metadata,
    _manifest,
    _manifests,
    _new_table,
    _snapshot,
    commit as iceberg_commit,
)
from .sources import built
from .surface51 import (
    _LAST_SEQ,
    _ROW_ID,
    _write_lineage_parquet,
    lineage_files,
)
from .surface56 import changelog_updates


def _assert_no_delete_manifests(base: str, sid: int) -> None:
    if any(
        m.get("content", 0) != 0
        for m in _manifests(base, _load_metadata(base), sid)
    ):
        raise NotImplementedError(
            "lineage changelog over DELETE manifests is not claimed — "
            "recovering row ids for positionally-deleted rows needs the "
            "dead rows re-read under lineage; use the identifier-based "
            "changelog (iceberg_changelog) for delete windows"
        )


def _lineage_rows(
    spark: SparkSession, files: list[dict], cols: list[str]
) -> DataFrame | None:
    """Rows of ``files`` with lineage materialized — surface51's branch
    read (files with vs without physical lineage columns scanned
    separately, each broadcast-joined to the metadata-sized file map),
    generalized over ``cols``."""
    import pyarrow.parquet as pq

    if not files:
        return None
    fmap = spark.createDataFrame(
        [(f["path"], f["first_row_id"], f["seq"]) for f in files],
        "__path string, __first bigint, __seq bigint",
    )
    plain, mat = [], []
    for f in files:
        names = pq.read_schema(f["path"]).names
        (mat if _ROW_ID in names else plain).append(f["path"])

    def _branch(paths: list[str], has_cols: bool) -> DataFrame:
        df = (
            spark.read.parquet(*paths)
            .select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ).alias("__path"),
                F.col("_metadata.row_index").alias("__pos"),
            )
            .join(F.broadcast(fmap), "__path")
        )
        rid = F.col("__first") + F.col("__pos")
        seq = F.col("__seq")
        if has_cols:
            rid = F.coalesce(F.col(_ROW_ID), rid)
            seq = F.coalesce(F.col(_LAST_SEQ), seq)
        return df.select(
            rid.cast("bigint").alias("row_id"),
            *cols,
            seq.cast("bigint").alias("last_upd_seq"),
        )

    branches = []
    if plain:
        branches.append(_branch(plain, False))
    if mat:
        branches.append(_branch(mat, True))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def iceberg_changelog_lineage(
    spark: SparkSession,
    base: str,
    from_sid: int,
    to_sid: int,
    cols: list[str],
) -> DataFrame:
    """Row-level INSERT/DELETE records between two v3 snapshots, each
    row carrying its durable ``row_id``: the batch-GA file-set diff
    keyed on (path, sequence), emission scanning ONLY added/removed
    files, with lineage materialized per surface51's inheritance rule.
    ``cols`` = the table's value columns (v3 lineage fixtures carry
    their schema in metadata; the caller names the projection)."""
    _assert_no_delete_manifests(base, from_sid)
    _assert_no_delete_manifests(base, to_sid)
    fa = {(f["path"], f["seq"]): f for f in lineage_files(base, from_sid)}
    fb = {(f["path"], f["seq"]): f for f in lineage_files(base, to_sid)}
    removed = [fa[k] for k in sorted(set(fa) - set(fb))]
    added = [fb[k] for k in sorted(set(fb) - set(fa))]
    dels = _lineage_rows(spark, removed, cols)
    ins = _lineage_rows(spark, added, cols)
    parts = []
    if dels is not None:
        parts.append(dels.withColumn("change_type", F.lit("DELETE")))
    if ins is not None:
        parts.append(ins.withColumn("change_type", F.lit("INSERT")))
    if not parts:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [T.StructField("row_id", T.LongType())]
                + [T.StructField(c, T.StringType()) for c in cols]
                + [
                    T.StructField("last_upd_seq", T.LongType()),
                    T.StructField("change_type", T.StringType()),
                    T.StructField("commit_snapshot_id", T.LongType()),
                ]
            ),
        )
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out.withColumn("commit_snapshot_id", F.lit(to_sid).cast("bigint"))


def changelog_updates_by_lineage(
    chg: DataFrame, value_cols: list[str]
) -> DataFrame:
    """The update-pair view keyed on the durable ``row_id`` — no
    identifier columns, rename-proof. The reconcile IS surface56's
    single-pass aggregate (carryover drop, update pairing, delete/
    insert pass-through, uniqueness guard) with ``row_id`` as the
    identity; ALL table columns — including the natural key — are value
    columns, which is what makes key renames pair."""
    return changelog_updates(chg, ["row_id"], value_cols)


def _build_rename_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """v3 lineage table, two snapshots:

    - 7001 (seq 1, first-row-id 0): nation in ONE null-lineage file —
      row ids inherit 0..24 (== n_nationkey, contiguous-sorted);
    - 7002 (seq 2, first-row-id 25): CoW rewrite carrying materialized
      row ids: key 5 RENAMED to 505 (same row_id 5 — the natural key
      changes, identity does not), key 7 dropped, a NEW row key 100
      with fresh row_id 25. Everything else carries values unchanged.
    """
    import pandas as pd
    import pyarrow.parquet as pq

    from ..catalog import table_path

    pdf = (
        pq.read_table(table_path(sf_dir, "nation"))
        .to_pandas()[["n_nationkey", "n_name", "n_regionkey"]]
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    _write_lineage_parquet(pdf, os.path.join(base, "data", "ln-v1.parquet"))
    v2 = pdf.copy()
    v2[_ROW_ID] = v2["n_nationkey"].astype("int64")
    v2[_LAST_SEQ] = 1
    v2[_LAST_SEQ] = v2[_LAST_SEQ].astype("object")
    ren = v2.n_nationkey == 5
    v2.loc[ren, "n_nationkey"] = 505
    v2.loc[ren, "n_name"] = "RENAMED-5"
    v2.loc[ren, _LAST_SEQ] = None  # inherits the rewrite's seq 2
    v2 = v2[v2.n_nationkey != 7]
    new = pd.DataFrame(
        [
            {
                "n_nationkey": 100,
                "n_name": "NEW-100",
                "n_regionkey": 0,
                _ROW_ID: 25,
                _LAST_SEQ: None,
            }
        ]
    )
    v2 = pd.concat([v2, new], ignore_index=True)
    v2["n_nationkey"] = v2["n_nationkey"].astype(pdf["n_nationkey"].dtype)
    v2["n_regionkey"] = v2["n_regionkey"].astype(pdf["n_regionkey"].dtype)
    v2[_ROW_ID] = v2[_ROW_ID].astype("int64")
    v2[_LAST_SEQ] = v2[_LAST_SEQ].astype("Int64")
    _write_lineage_parquet(v2, os.path.join(base, "data", "ln-v2.parquet"))

    md = _new_table(
        base,
        _NATION_ICEBERG_FIELDS,
        uuid="lineage-rename-fixture",
        format_version=3,
    )
    m1 = _manifest(
        base, md, "m-ln-1.avro", [_entry(base, "ln-v1.parquet", 0, len(pdf))],
        0, 7001, 1,
    )
    m2 = _manifest(
        base, md, "m-ln-2.avro", [_entry(base, "ln-v2.parquet", 0, len(v2))],
        0, 7002, 2,
    )
    md = _snapshot(
        base,
        md,
        [{**m1, "first_row_id": 0}],
        "append",
        snap_id=7001,
        seq=1,
        ts=1700000001000,
        **{"first-row-id": 0},
    )
    md = _snapshot(
        base,
        {**md, "next-row-id": 51},
        [{**m2, "first_row_id": 25}],
        "overwrite",
        snap_id=7002,
        seq=2,
        ts=1700000002000,
        **{"first-row-id": 25},
    )
    iceberg_commit(base, lambda _v, _prev: md)


def _fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir, "iceberg_lineage_rename", partial(_build_rename_fixture, spark, sf_dir)
    )


_COLS = ["n_nationkey", "n_name", "n_regionkey"]


@query(
    "iceberg_changelog_lineage_scan",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS row_id,
           n_nationkey, n_name, n_regionkey,
           'DELETE' AS change_type, CAST(7002 AS BIGINT) AS commit_snapshot_id
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT),
           CASE WHEN n_nationkey = 5 THEN 505 ELSE n_nationkey END,
           CASE WHEN n_nationkey = 5 THEN 'RENAMED-5' ELSE n_name END,
           n_regionkey, 'INSERT', CAST(7002 AS BIGINT)
    FROM nation WHERE n_nationkey <> 7
    UNION ALL
    SELECT 25, 100, 'NEW-100', 0, 'INSERT', CAST(7002 AS BIGINT)
    """,
)
def iceberg_changelog_lineage_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The lineage-carrying raw changelog over the rename window: the
    removed v1 file emits all 25 rows as DELETEs, the added v2 file
    emits its 24 rows as INSERTs — every row tagged with its durable
    row_id (the renamed key keeps row_id 5; the new row takes fresh id
    25). Value-oracled cell-by-cell; the non-v3 refusal and the
    delete-manifest refusal are pinned in tests/test_surface64.py."""
    base = _fixture(spark, sf_dir)
    return iceberg_changelog_lineage(spark, base, 7001, 7002, _COLS).select(
        "row_id", *_COLS, "change_type", "commit_snapshot_id"
    )


@query(
    "iceberg_changelog_updates_by_lineage",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS row_id, n_nationkey, n_name, n_regionkey,
           'update_preimage' AS change_type,
           CAST(7002 AS BIGINT) AS commit_snapshot_id
    FROM nation WHERE n_nationkey = 5
    UNION ALL
    SELECT 5, 505, 'RENAMED-5', n_regionkey, 'update_postimage', 7002
    FROM nation WHERE n_nationkey = 5
    UNION ALL
    SELECT 7, n_nationkey, n_name, n_regionkey, 'delete', 7002
    FROM nation WHERE n_nationkey = 7
    UNION ALL
    SELECT 25, 100, 'NEW-100', 0, 'insert', 7002
    """,
)
def iceberg_changelog_updates_by_lineage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The rename-proof update-pair view (round-11 verdict missing #3):
    pairing on row_id reconciles the 25-DELETE + 24-INSERT rewrite
    window to exactly ONE update pair (row_id 5 — whose NATURAL KEY
    changed 5 → 505, unpairable by any identifier column), one delete
    (row_id 7), one insert (row_id 25); the 22 carryovers drop.
    Value-oracled cell-by-cell; the pin that identifier-based pairing
    CANNOT pair this window is in tests/test_surface64.py."""
    base = _fixture(spark, sf_dir)
    chg = iceberg_changelog_lineage(spark, base, 7001, 7002, _COLS)
    return changelog_updates_by_lineage(chg, _COLS).select(
        "row_id", *_COLS, "change_type", "commit_snapshot_id"
    )
