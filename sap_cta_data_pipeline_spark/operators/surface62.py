"""§2 round-11 batch GL — net-effect changelog windows.

Batch GA's changelog diffs the window's ENDPOINTS, which makes every
window a NET window for free (Iceberg's ``net_changes`` option): a row
added and deleted INSIDE the window never existed externally and must
not appear in the feed at all. That claim was structural in batch GA's
docstring; this batch makes it a VALUE-ORACLED key over a three-commit
history:

- snapshot 6001: nation (one file);
- snapshot 6002: appends five rows (keys 100-104);
- snapshot 6003: a position-delete file kills two of the new rows
  (101, 103) AND one base row (key 7).

The 6001→6003 window must emit INSERTs for exactly {100, 102, 104}
(101/103 cancel — they were born and died inside the window) and one
DELETE for key 7 — never a DELETE for 101/103 (a consumer would try to
delete rows it never saw). The intermediate window pair
(6001→6002, 6002→6003) is pinned at unit grain to compose to the same
net state.

Scale: identical envelope to batch GA — the net-ness costs NOTHING
extra because the plan never walks intermediate snapshots at all: two
manifest walks for the endpoints, scans of only the changed files.
Engines that replay per-commit changelogs pay O(commits) scans and
then need a reconcile pass to net them; endpoint diffing is the
cheaper AND more correct default for consumers that want state sync.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table_path
from ..registry import query
from .iceberg_reader import (
    _MANIFEST_FILE_SCHEMA,
    _entry,
    _manifest_file_rec,
    _write_manifest,
    _write_parquet_file,
    commit as iceberg_commit,
)
from .sources import built
from .surface54 import iceberg_changelog

from ..functions.avro_codec import write_container


def _build_net_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    import pandas as pd
    import pyarrow.parquet as pq

    meta_dir = os.path.join(base, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = (
        tbl.to_pandas()[["n_nationkey", "n_name", "n_regionkey"]]
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    new = pd.DataFrame(
        {
            "n_nationkey": [100, 101, 102, 103, 104],
            "n_name": [f"NEW-{k}" for k in (100, 101, 102, 103, 104)],
            "n_regionkey": [0, 1, 2, 3, 4],
        }
    )
    schema = tbl.select(["n_nationkey", "n_name", "n_regionkey"]).schema
    base_abs = os.path.join(base, "data", "base.parquet")
    new_abs = os.path.join(base, "data", "new.parquet")
    _write_parquet_file(schema, pdf, base_abs)
    _write_parquet_file(schema, new, new_abs)
    # position-delete parquet: rows 1,3 of new.parquet (keys 101,103 —
    # new is written sorted) + row 7 of base.parquet (key 7)
    import pyarrow as pa

    del_schema = pa.schema(
        [pa.field("file_path", pa.string()), pa.field("pos", pa.int64())]
    )
    _write_parquet_file(
        del_schema,
        pd.DataFrame(
            {
                "file_path": [
                    "file://" + new_abs,
                    "file://" + new_abs,
                    "file://" + base_abs,
                ],
                "pos": [1, 3, 7],
            }
        ),
        os.path.join(base, "data", "del.parquet"),
    )
    _write_manifest(base, "m-base.avro", [_entry(base, "base.parquet", 0, len(pdf))])
    _write_manifest(base, "m-new.avro", [_entry(base, "new.parquet", 0, len(new))])
    _write_manifest(base, "m-del.avro", [_entry(base, "del.parquet", 1, 3)])
    write_container(
        os.path.join(meta_dir, "snap-6001.avro"),
        _MANIFEST_FILE_SCHEMA,
        [_manifest_file_rec(base, "m-base.avro", 0, 6001, 1)],
    )
    write_container(
        os.path.join(meta_dir, "snap-6002.avro"),
        _MANIFEST_FILE_SCHEMA,
        [
            _manifest_file_rec(base, "m-base.avro", 0, 6001, 1),
            _manifest_file_rec(base, "m-new.avro", 0, 6002, 2),
        ],
    )
    write_container(
        os.path.join(meta_dir, "snap-6003.avro"),
        _MANIFEST_FILE_SCHEMA,
        [
            _manifest_file_rec(base, "m-base.avro", 0, 6001, 1),
            _manifest_file_rec(base, "m-new.avro", 0, 6002, 2),
            _manifest_file_rec(base, "m-del.avro", 1, 6003, 3),
        ],
    )
    md = {
        "format-version": 2,
        "table-uuid": "net-window-fixture",
        "location": "file://" + base,
        "last-sequence-number": 3,
        "current-snapshot-id": 6003,
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "n_nationkey", "required": False,
                     "type": "int"},
                    {"id": 2, "name": "n_name", "required": False,
                     "type": "string"},
                    {"id": 3, "name": "n_regionkey", "required": False,
                     "type": "int"},
                ],
            }
        ],
        "current-schema-id": 0,
        "snapshots": [
            {
                "snapshot-id": 6001,
                "sequence-number": 1,
                "timestamp-ms": 1700000001000,
                "manifest-list": "file://"
                + os.path.join(meta_dir, "snap-6001.avro"),
                "summary": {"operation": "append"},
            },
            {
                "snapshot-id": 6002,
                "parent-snapshot-id": 6001,
                "sequence-number": 2,
                "timestamp-ms": 1700000002000,
                "manifest-list": "file://"
                + os.path.join(meta_dir, "snap-6002.avro"),
                "summary": {"operation": "append"},
            },
            {
                "snapshot-id": 6003,
                "parent-snapshot-id": 6002,
                "sequence-number": 3,
                "timestamp-ms": 1700000003000,
                "manifest-list": "file://"
                + os.path.join(meta_dir, "snap-6003.avro"),
                "summary": {"operation": "delete"},
            },
        ],
    }
    iceberg_commit(base, lambda _v, _prev: md)


def _net_fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir, "iceberg_net_window", partial(_build_net_fixture, spark, sf_dir)
    )


@query(
    "iceberg_changelog_net_window",
    oracle="""
    SELECT * FROM (VALUES
      (100, 'NEW-100', 0, 'INSERT'),
      (102, 'NEW-102', 2, 'INSERT'),
      (104, 'NEW-104', 4, 'INSERT')
    ) t(n_nationkey, n_name, n_regionkey, change_type)
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 'DELETE'
    FROM nation WHERE n_nationkey = 7
    """,
)
def iceberg_changelog_net_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NET window over the three-commit history (see module
    docstring): 6001→6003 emits INSERTs for exactly {100, 102, 104} —
    keys 101/103 were born AND died inside the window and must never
    reach a consumer — plus the DELETE of base key 7. Value-oracled
    cell-by-cell; the per-commit windows composing to the same net
    state are pinned in tests/test_surface62.py."""
    base = _net_fixture(spark, sf_dir)
    return iceberg_changelog(spark, base, 6001, 6003).drop(
        "commit_snapshot_id"
    )
