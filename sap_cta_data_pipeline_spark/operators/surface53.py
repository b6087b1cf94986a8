"""§2 round-10 batch FZ — Delta row tracking.

The third Delta v-next table feature named by the round-9 verdict
(missing #1; liquid clustering + ICT shipped in batch FW): **row
tracking** gives every row a durable ``row_id`` and a
``row_commit_version``, Delta's twin of Iceberg v3 row lineage (batch
FX) with the same fresh-vs-materialized split:

- the ``rowTracking`` writer feature (+ ``domainMetadata``, which owns
  the ``delta.rowTracking`` high-water-mark domain) and
  ``delta.enableRowTracking`` table config;
- every ``add`` action carries ``baseRowId`` (FRESH row ids are
  ``baseRowId + position``) and ``defaultRowCommitVersion`` (fresh
  commit versions are the add's commit);
- a CoW rewrite PRESERVES ids by materializing them into hidden
  columns whose physical names live in table config
  (``delta.rowTracking.materializedRowIdColumnName`` /
  ``materializedRowCommitVersionColumnName``); a NULL materialized
  cell falls back to the fresh rule — so a rewrite leaves carried-over
  rows' commit versions materialized and nulls the MODIFIED row's,
  which then reports the rewrite commit.

Keys:
- ``delta_row_tracking_read`` — fresh-id read path at v0 (two adds,
  baseRowId 0/12): row_id == n_nationkey by construction, commit
  version 0 everywhere — every cell value-oracled.
- ``delta_row_tracking_update`` — across a CoW update: ids stable,
  only the updated row's commit version moves to 1.

Scale: identical envelope to batch FX — one broadcast
(file -> baseRowId, defaultRowCommitVersion) metadata map over the
ordinary scan; appends materialize nothing at any size.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .delta_reader import _add, _commit, _metadata, _protocol, _remove, log_state
from .sources import built

_ROW_ID_COL = "_tracked_row_id"
_RCV_COL = "_tracked_row_commit_version"

_RT_CONFIG = {
    "delta.enableRowTracking": "true",
    "delta.rowTracking.materializedRowIdColumnName": _ROW_ID_COL,
    "delta.rowTracking.materializedRowCommitVersionColumnName": _RCV_COL,
}


def _build_row_tracking_fixture(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """v0: rt-lo (keys 0-11, baseRowId 0) + rt-hi (keys 12-24,
    baseRowId 12), defaultRowCommitVersion 0 — fresh ids equal
    n_nationkey. Row-id high-water mark (24) lives in the
    delta.rowTracking domain metadata.

    v1: CoW UPDATE of key 5's n_name — rt-lo is removed, rt-lo2 added
    with baseRowId 25 (rewrites still consume fresh ids for null
    cells) and MATERIALIZED id/commit-version columns: ids preserved
    for all rows, commit version materialized 0 for carried-over rows,
    NULL for the updated row (falls back to the add's
    defaultRowCommitVersion = 1)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ..catalog import table_path
    from .surface51 import _write_lineage_parquet

    log_dir = os.path.join(base, "_delta_log")
    pdf = (
        pq.read_table(table_path(sf_dir, "nation"))
        .to_pandas()[["n_nationkey", "n_name", "n_regionkey"]]
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    lo = pdf[pdf.n_nationkey < 12].reset_index(drop=True)
    hi = pdf[pdf.n_nationkey >= 12].reset_index(drop=True)
    _write_lineage_parquet(lo, os.path.join(base, "rt-lo.parquet"))
    _write_lineage_parquet(hi, os.path.join(base, "rt-hi.parquet"))
    lo_add = _add(base, "rt-lo.parquet", baseRowId=0, defaultRowCommitVersion=0)
    _commit(
        log_dir,
        0,
        [
            {"commitInfo": {"operation": "WRITE"}},
            _protocol(1, 7, writer_features=["rowTracking", "domainMetadata"]),
            _metadata(configuration=_RT_CONFIG),
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps({"rowIdHighWaterMark": 24}),
                    "removed": False,
                }
            },
            lo_add,
            _add(base, "rt-hi.parquet", baseRowId=12, defaultRowCommitVersion=0),
        ],
    )
    lo2 = lo.copy()
    lo2[_ROW_ID_COL] = lo2["n_nationkey"].astype("int64")
    lo2[_RCV_COL] = pd.array([0] * len(lo2), dtype="Int64")
    upd = lo2.n_nationkey == 5
    lo2.loc[upd, "n_name"] = "UPDATED"
    lo2.loc[upd, _RCV_COL] = None  # falls back to the rewrite's default (1)
    _write_lineage_parquet(lo2, os.path.join(base, "rt-lo2.parquet"))
    _commit(
        log_dir,
        1,
        [
            {"commitInfo": {"operation": "UPDATE"}},
            _remove(lo_add),
            _add(base, "rt-lo2.parquet", baseRowId=25, defaultRowCommitVersion=1),
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps({"rowIdHighWaterMark": 36}),
                    "removed": False,
                }
            },
        ],
    )


def row_tracking_files(
    spark: SparkSession, base: str, version: int | None = None
) -> tuple[dict[str, tuple[int, int]], dict]:
    """(live path -> (baseRowId, defaultRowCommitVersion), table config)
    from ``log_state``. Refuses tables that enable row tracking but hold
    a live add WITHOUT those fields — silently inventing ids would
    collide with real ones on the next writer. The enablement gate
    comes from table config and is judged first: a plain table's add
    legitimately carries no baseRowId and gets the "not enabled" error,
    not the corrupt-log one."""
    st = log_state(spark, base, version)
    config = dict(st.metadata.get("configuration") or {})
    if config.get("delta.enableRowTracking", "false") != "true":
        raise ValueError(
            "row tracking requires delta.enableRowTracking=true; this "
            "table does not enable it"
        )
    live: dict[str, tuple[int, int]] = {}
    for p, ad in st.adds.items():
        for field in ("baseRowId", "defaultRowCommitVersion"):
            if ad.get(field) is None:
                raise ValueError(
                    f"add action for {ad['path']!r} carries no {field} "
                    "on a row-tracking table — refusing to invent row ids"
                )
        live[p] = (ad["baseRowId"], ad["defaultRowCommitVersion"])
    return live, config


def read_with_row_tracking(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Same two-branch plan as the Iceberg lineage twin: one scan per
    physical-schema group, broadcast metadata map, coalesce(materialized,
    fresh-rule). Materialized column names come from table config."""
    import pyarrow.parquet as pq

    live, config = row_tracking_files(spark, base, version)
    id_col = config["delta.rowTracking.materializedRowIdColumnName"]
    rcv_col = config["delta.rowTracking.materializedRowCommitVersionColumnName"]
    fmap = spark.createDataFrame(
        [(os.path.join(base, p), b, d) for p, (b, d) in live.items()],
        "__path string, __base bigint, __default_rcv bigint",
    )
    plain, mat = [], []
    for p in live:
        full = os.path.join(base, p)
        (mat if id_col in pq.read_schema(full).names else plain).append(full)

    def _branch(paths: list[str], has_cols: bool) -> DataFrame:
        df = spark.read.parquet(*paths).select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
            .alias("__path"),
            F.col("_metadata.row_index").alias("__pos"),
        ).join(F.broadcast(fmap), "__path")
        rid = F.col("__base") + F.col("__pos")
        rcv = F.col("__default_rcv")
        if has_cols:
            rid = F.coalesce(F.col(id_col), rid)
            rcv = F.coalesce(F.col(rcv_col), rcv)
        return df.select(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            rid.cast("bigint").alias("row_id"),
            rcv.cast("bigint").alias("row_commit_version"),
        )

    branches = [
        _branch(paths, has)
        for paths, has in ((plain, False), (mat, True))
        if paths
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir,
        "delta_row_tracking",
        partial(_build_row_tracking_fixture, spark, sf_dir),
    )


@query(
    "delta_row_tracking_read",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(n_nationkey AS BIGINT) AS row_id,
           CAST(0 AS BIGINT)           AS row_commit_version
    FROM nation
    """,
)
def delta_row_tracking_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fresh-id read path at v0: both adds carry only baseRowId (0 and
    12) — no materialized columns exist, so every row id is
    ``baseRowId + position`` and equals n_nationkey by fixture
    construction; commit version is the adds'
    defaultRowCommitVersion (0). Every cell value-oracled."""
    base = _fixture(spark, sf_dir)
    return read_with_row_tracking(spark, base, version=0)


@query(
    "delta_row_tracking_update",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 5 THEN 'UPDATED' ELSE n_name END AS n_name,
           n_regionkey,
           CAST(n_nationkey AS BIGINT) AS row_id,
           CAST(CASE WHEN n_nationkey = 5 THEN 1 ELSE 0 END AS BIGINT)
             AS row_commit_version
    FROM nation
    """,
)
def delta_row_tracking_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row identity across a CoW UPDATE: the rewrite file materializes
    preserved ids (row_id == n_nationkey throughout — stability pinned
    by snapshot diff in tests) and carried-over commit versions (0);
    the UPDATED row's NULL materialized commit version falls back to
    the rewrite add's defaultRowCommitVersion (1). The Delta twin of
    iceberg_row_lineage_update, down to the null-inheritance rule."""
    base = _fixture(spark, sf_dir)
    return read_with_row_tracking(spark, base)
