"""§2 round-9 batch FG — write-side DDL + manifest maintenance.

- ``delta_colmap_rename_drop``: first-class RENAME COLUMN / DROP COLUMN
  writers for column-mapped Delta tables — the verbs column mapping
  EXISTS for: both are METADATA-ONLY commits (a new metaData action with
  the logical name changed / the field removed; the physical names in
  every data file stay untouched), so they are O(1) at 100 TB. Without
  column mapping the same DDL would require rewriting every data file —
  that path refuses loudly rather than silently launching a full-table
  rewrite. Column ids are never reused (maxColumnId only grows), which
  is the invariant that keeps a later re-add of a dropped name from
  resurrecting the dropped column's data.
- ``iceberg_rewrite_manifests``: the maintenance verb for
  many-small-commits tables — N append-sized DATA manifests merge into
  ONE, each merged entry materializing its EXPLICIT sequence_number
  (entry field-id 3; previously inherited from its source manifest) so
  row-level delete gating survives the merge byte-for-byte. Delete
  manifests carry through verbatim; the new snapshot (operation
  "replace") changes no data file, and the pre-rewrite snapshot stays
  time-travelable. Partitioned entries refuse: real rewrite groups
  manifests per partition spec, and this table format fixture set is
  spec-0/unpartitioned — the refusal names the evidence.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.avro_codec import read_container
from ..registry import query
from .delta_reader import _metadata, _project, delta_snapshot, log_state
from .delta_reader import commit as delta_commit
from .iceberg_reader import (
    _manifest,
    _manifests,
    _next_ids,
    _resolve_path,
    _snapshot,
    iceberg_append,
    iceberg_delete_where,
    iceberg_snapshot,
)
from .iceberg_reader import _tip as _iceberg_tip
from .iceberg_reader import commit as iceberg_commit
from .sources import _scratch, built


# ---------------------------------------------------------- Delta DDL


def _require_column_mapping(config: dict, verb: str) -> None:
    if config.get("delta.columnMapping.mode") not in ("name", "id"):
        raise NotImplementedError(
            f"{verb} on a table WITHOUT column mapping requires rewriting "
            "every data file under the new physical schema — an O(table) "
            "job this writer will not launch implicitly; enable "
            "delta.columnMapping.mode=name first (metadata-only upgrade)"
        )


def delta_rename_column(
    spark: SparkSession, base: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN old TO new — metadata-only: the
    field keeps its columnMapping id and physicalName, only the LOGICAL
    name changes, so every existing data file remains valid. Returns the
    committed version."""
    st = log_state(spark, base)
    _, schema_string, _, config, _ = _project(st)
    _require_column_mapping(config, "RENAME COLUMN")
    sch = json.loads(schema_string)
    names = [f["name"] for f in sch["fields"]]
    if old not in names:
        raise ValueError(f"RENAME COLUMN: no such column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"RENAME COLUMN: target name {new!r} already exists")
    for f in sch["fields"]:
        if f["name"] == old:
            f["name"] = new
    return delta_commit(
        base,
        [
            {
                "commitInfo": {
                    "operation": "RENAME COLUMN",
                    "operationParameters": {"from": old, "to": new},
                }
            },
            _metadata(**{**st.metadata, "schemaString": json.dumps(sch)}),
        ],
        st.version,
    )


def delta_drop_column(spark: SparkSession, base: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only under column mapping:
    the field leaves the logical schema; its physical column stays in
    the data files as dead bytes (reclaimed by the next OPTIMIZE
    rewrite), and its column id is NEVER reused (maxColumnId is
    monotonic), so a future re-add of the same logical name maps to a
    FRESH physical column instead of resurrecting dropped data. Returns
    the committed version."""
    st = log_state(spark, base)
    _, schema_string, part_cols, config, _ = _project(st)
    _require_column_mapping(config, "DROP COLUMN")
    if col in (part_cols or []):
        raise ValueError(
            f"DROP COLUMN: {col!r} is a partition column — dropping it "
            "changes the table layout (requires a rewrite)"
        )
    sch = json.loads(schema_string)
    names = [f["name"] for f in sch["fields"]]
    if col not in names:
        raise ValueError(f"DROP COLUMN: no such column {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError("DROP COLUMN: cannot drop the last column")
    sch["fields"] = [f for f in sch["fields"] if f["name"] != col]
    return delta_commit(
        base,
        [
            {
                "commitInfo": {
                    "operation": "DROP COLUMNS",
                    "operationParameters": {"columns": [col]},
                }
            },
            _metadata(**{**st.metadata, "schemaString": json.dumps(sch)}),
        ],
        st.version,
    )


@query(
    "delta_colmap_rename_drop",
    oracle="SELECT n_nationkey, n_name AS n_label FROM nation",
)
def delta_colmap_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME + DROP COLUMN round-trip on a column-mapped table: rename
    n_name → n_label, drop n_regionkey — two metadata-only commits (no
    add/remove actions, pinned in tests), then read back through the
    house column-mapping reader: the renamed column serves the SAME
    physical bytes under its new logical name, the dropped column is
    gone, and the values are untouched. This is the instant-DDL story
    column mapping exists for; both verbs refuse loudly on non-mapped
    tables (where they would imply a full rewrite).

    Scale: two O(1) metadata commits regardless of table size — the
    100-TB cost is a JSON write; the data plane is untouched."""
    from .lakehouse_interop import _build_colmap_fixture

    src = _build_colmap_fixture(spark, sf_dir)

    def build(clone: str) -> None:
        delta_rename_column(spark, clone, "n_name", "n_label")
        delta_drop_column(spark, clone, "n_regionkey")

    clone = built(sf_dir, "delta_colmap_ddl", build, copy_of=src)
    return delta_snapshot(spark, clone).select("n_nationkey", "n_label")


# ------------------------------------------------ Iceberg rewrite manifests


def iceberg_rewrite_manifests(
    spark: SparkSession, base: str
) -> tuple[int, int, int]:
    """Merge the current snapshot's DATA manifests into one; delete
    manifests pass through verbatim. Every merged entry materializes an
    EXPLICIT sequence_number (entry field-id 3 — the value it previously
    inherited from its source manifest record), so position/equality
    delete gating (file seq vs delete seq) is preserved exactly. The new
    snapshot commits as operation "replace" over the SAME data files.
    The commit is read-dependent: a concurrent commit aborts the rewrite.
    Returns (version, manifests_before, manifests_after)."""
    cur_v, prev = _iceberg_tip(os.path.join(base, "metadata"))
    manifests = _manifests(base, prev)
    data_mfs = [m for m in manifests if m.get("content", 0) == 0]
    delete_mfs = [m for m in manifests if m.get("content", 0) != 0]

    merged: list[dict] = []
    for m in data_mfs:
        _, entries = read_container(_resolve_path(base, m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:  # DELETED — not part of the snapshot
                continue
            df_rec = e["data_file"]
            if df_rec.get("partition"):
                raise NotImplementedError(
                    "rewrite_manifests on PARTITIONED entries: manifests "
                    "group per partition spec "
                    f"(entry {df_rec['file_path']!r} carries partition "
                    f"record {df_rec['partition']!r}); this writer merges "
                    "unpartitioned (spec-0) manifests only"
                )
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number", 0)
            merged.append(
                {
                    "status": 0,  # EXISTING: carried forward, not added
                    "snapshot_id": e.get("snapshot_id")
                    or m.get("added_snapshot_id"),
                    "sequence_number": seq,  # explicit — survives the merge
                    "data_file": df_rec,
                }
            )

    seq_new, snap_id = _next_ids(prev)
    merged_rec = _manifest(
        base, prev, f"m-rewrite-{snap_id}.avro", merged, 0, snap_id, seq_new
    )
    merged_rec["min_sequence_number"] = min(
        (e["sequence_number"] for e in merged), default=seq_new
    )
    md = _snapshot(base, prev, [merged_rec] + delete_mfs, "replace")
    v = iceberg_commit(base, lambda _v, _prev: md, cur_v)
    return v, len(manifests), 1 + len(delete_mfs)


@query(
    "iceberg_rewrite_manifests",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE NOT (n_nationkey % 8 = 1)
    """,
)
def iceberg_rewrite_manifests_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """rewrite_manifests round-trip: three appends (three single-entry
    DATA manifests) + one position DELETE (a delete manifest), then the
    manifest merge — the read-back must equal the pre-rewrite merged
    state, with the delete STILL applied through its sequence gate
    against the now-explicit entry sequence numbers. Tests pin the
    manifest count (4 → 2), the explicit per-entry seq, and pre-rewrite
    time travel.

    Scale: manifest rewrite is O(metadata) — entries stream through the
    driver like every commit-planning step; no data file is opened. At
    100 TB this is the verb that keeps scan PLANNING fast after
    thousands of small appends (planning reads manifests, not files)."""
    from ..catalog import load_table

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 8"), "a0.parquet")
        iceberg_append(
            spark, base, n.filter("n_nationkey >= 8 AND n_nationkey < 16"),
            "a1.parquet",
        )
        iceberg_append(spark, base, n.filter("n_nationkey >= 16"), "a2.parquet")
        iceberg_delete_where(spark, base, "n_nationkey % 8 = 1")
        iceberg_rewrite_manifests(spark, base)

    base = built(sf_dir, "iceberg_rewrite_manifests", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ------------------------------------------- batch FO: metadata surfaces


def iceberg_manifests_meta(spark: SparkSession, base: str) -> DataFrame:
    """`.manifests` metadata table of the CURRENT snapshot: one row per
    manifest-list entry with its content code, sequence bounds, and the
    live (status != DELETED) entry count — what a maintenance planner
    reads to decide WHEN rewrite_manifests is worth running. O(manifest
    bytes) driver work, zero data-file reads."""
    _, md = _iceberg_tip(os.path.join(base, "metadata"))
    rows = []
    for m in _manifests(base, md):
        _, entries = read_container(_resolve_path(base, m["manifest_path"]))
        rows.append(
            (
                os.path.basename(m["manifest_path"]),
                int(m.get("content", 0)),
                int(m.get("sequence_number", 0)),
                int(m.get("min_sequence_number", 0)),
                sum(1 for e in entries if e["status"] != 2),
            )
        )
    return spark.createDataFrame(
        rows,
        "manifest_name string, content int, sequence_number bigint, "
        "min_sequence_number bigint, live_entries bigint",
    )


@query(
    "iceberg_manifests_meta",
    oracle="""
    SELECT * FROM (VALUES
      ('m-del-1004.avro', 1, CAST(4 AS BIGINT), CAST(4 AS BIGINT),
       CAST(1 AS BIGINT)),
      ('m-rewrite-1005.avro', 0, CAST(5 AS BIGINT), CAST(1 AS BIGINT),
       CAST(3 AS BIGINT))
    ) t(manifest_name, content, sequence_number, min_sequence_number,
        live_entries)
    """,
)
def iceberg_manifests_meta_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.manifests` over the rewrite_manifests fixture: after the merge
    the current snapshot carries exactly TWO manifests — the rewritten
    data manifest (3 live entries, min_seq 1 from the explicit entry
    seqs, manifest seq 5) and the untouched delete manifest (seq 4) —
    pinned literally. The planner-facing proof that rewrite_manifests
    did its job (4 manifests → 2) without touching delete metadata."""
    iceberg_rewrite_manifests_read.__wrapped__(spark, sf_dir)
    base = _scratch(sf_dir, "iceberg_rewrite_manifests")
    return iceberg_manifests_meta(spark, base)


@query(
    "delta_describe_detail",
    oracle="""
    SELECT * FROM (VALUES
      ('parquet', CAST(2 AS BIGINT), CAST(3 AS BIGINT), 0,
       'name', 2, 5)
    ) t(format, num_files, num_columns, num_partition_columns,
        column_mapping_mode, min_reader_version, min_writer_version)
    """,
)
def delta_describe_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL over the column-mapping fixture: live file count
    from log replay, column count from the schemaString, partition
    arity, the columnMapping mode, and the protocol floor (2/5 — the
    versions column mapping requires) — the one-row health card an
    operator checks before running maintenance. Metadata-only: O(log)
    driver work, no data file opened.

    Scale: identical cost at 100 TB — DESCRIBE DETAIL is a log replay,
    which checkpoints bound exactly as delta_state already does."""
    from .lakehouse_interop import _build_colmap_fixture

    base = _build_colmap_fixture(spark, sf_dir)
    st = log_state(spark, base)
    live, schema_string, part_cols, config, _ = _project(st)
    proto = st.protocol
    sch = json.loads(schema_string)
    return spark.createDataFrame(
        [
            (
                "parquet",
                len(live),
                len(sch["fields"]),
                len(part_cols or []),
                config.get("delta.columnMapping.mode", "none"),
                int(proto.get("minReaderVersion", 1)),
                int(proto.get("minWriterVersion", 2)),
            )
        ],
        "format string, num_files bigint, num_columns bigint, "
        "num_partition_columns int, column_mapping_mode string, "
        "min_reader_version int, min_writer_version int",
    )
