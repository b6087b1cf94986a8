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
    _NATION_ICEBERG_FIELDS,
    _entry,
    _manifest,
    _new_table,
    _snapshot,
    _write_parquet_file,
    commit as iceberg_commit,
)
from .sources import built
from .surface54 import iceberg_changelog


def _build_net_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    import pandas as pd
    import pyarrow.parquet as pq

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
    md = _new_table(base, _NATION_ICEBERG_FIELDS, uuid="net-window-fixture")
    m_base = _manifest(
        base, md, "m-base.avro", [_entry(base, "base.parquet", 0, len(pdf))],
        0, 6001, 1,
    )
    m_new = _manifest(
        base, md, "m-new.avro", [_entry(base, "new.parquet", 0, len(new))],
        0, 6002, 2,
    )
    m_del = _manifest(
        base, md, "m-del.avro", [_entry(base, "del.parquet", 1, 3)], 1, 6003, 3
    )
    md = _snapshot(
        base, md, [m_base], "append", snap_id=6001, seq=1, ts=1700000001000
    )
    md = _snapshot(
        base, md, [m_base, m_new], "append", snap_id=6002, seq=2,
        ts=1700000002000,
    )
    md = _snapshot(
        base, md, [m_base, m_new, m_del], "delete", snap_id=6003, seq=3,
        ts=1700000003000,
    )
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
