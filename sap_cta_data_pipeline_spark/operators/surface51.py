"""§2 round-10 batch FX — Iceberg v3 row lineage.

The second v3 pillar (round-9 verdict missing #2; DVs shipped in batch
FU): every row of a v3 table carries a durable ``_row_id`` and a
``_last_updated_sequence_number``, WITHOUT the writer materializing
them for plain appends — they INHERIT:

- table metadata tracks ``next-row-id``; each snapshot records the
  ``first-row-id`` it was assigned and advances ``next-row-id`` by the
  rows it added;
- a data manifest carries ``first_row_id``; entries with a null
  ``first_row_id`` inherit ``manifest.first_row_id`` plus the running
  ``record_count`` of the null-lineage entries before them;
- on read, a file's rows materialize
  ``_row_id = coalesce(materialized _row_id, file.first_row_id + pos)``
  and ``_last_updated_sequence_number = coalesce(materialized, file's
  data sequence number)``;
- a copy-on-write UPDATE preserves lineage by writing the carried-over
  rows' ``_row_id``/``_last_updated_sequence_number`` INTO the new
  file; the MODIFIED row keeps its ``_row_id`` but writes a null
  ``_last_updated_sequence_number`` — which inherits the update
  commit's sequence number. Row identity is stable across rewrites;
  only the update recency moves.

Keys:
- ``iceberg_row_lineage_read`` — the inheritance read path on the
  pre-update snapshot: two files in one manifest, both null-lineage;
  row ids are pure inheritance (and equal n_nationkey by fixture
  construction — the value oracle certifies every cell).
- ``iceberg_row_lineage_update`` — lineage across a CoW update: row
  ids unchanged, the updated row's last-updated sequence bumps to the
  update commit's sequence number via the null-inheritance rule.

Scale: lineage adds ONE broadcast joined (file -> first_row_id, seq)
map — metadata-sized, never data-sized — onto the ordinary distributed
scan; ``_metadata.row_index`` comes from the parquet reader for free.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.avro_codec import read_container, write_container
from ..registry import query
from .iceberg_reader import _resolve_path, commit as iceberg_commit
from .sources import built

# v3 manifest-entry/file schemas WITH the row-lineage fields (the
# fixture's own containers; pre-v3 manifests elsewhere are untouched).
_LIN_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    # v3: null = inherit from manifest position
                    {"name": "first_row_id", "type": ["null", "long"], "field-id": 142},
                ],
            },
        },
    ],
}

_LIN_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        # v3: starting row id for this manifest's null-lineage entries
        {"name": "first_row_id", "type": ["null", "long"], "field-id": 520},
    ],
}

_ROW_ID = "_row_id"
_LAST_SEQ = "_last_updated_sequence_number"


def _write_lineage_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _entry(base: str, rel: str, n_rows: int, first_row_id: int | None,
           status: int = 1) -> dict:
    path = os.path.join(base, "data", rel)
    return {
        "status": status,
        "snapshot_id": None,
        "data_file": {
            "content": 0,
            "file_path": "file://" + path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n_rows,
            "file_size_in_bytes": os.path.getsize(path),
            "first_row_id": first_row_id,
        },
    }


def _manifest_rec(base: str, rel: str, snap_id: int, seq: int,
                  first_row_id: int | None) -> dict:
    path = os.path.join(base, "metadata", rel)
    return {
        "manifest_path": "file://" + path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "first_row_id": first_row_id,
    }


def _build_lineage_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """v1: snapshot 3001 (seq 1, first-row-id 0) — lin-lo (keys 0-11) +
    lin-hi (keys 12-24) in ONE manifest, both entries null-lineage
    (pure inheritance: lo gets 0, hi gets 12; row ids == n_nationkey
    since nation keys are contiguous-sorted). next-row-id -> 25.

    v2: snapshot 3002 (seq 2, first-row-id 25) — CoW UPDATE of key 5's
    n_name: lin-lo is removed, lin-lo2 is added carrying MATERIALIZED
    _row_id for every row (identity preserved) and materialized
    _last_updated_sequence_number 1 for carried-over rows with a NULL
    for the updated row (inherits seq 2 on read). The surviving lin-hi
    entry is re-listed in a rewritten manifest with its ASSIGNED
    first_row_id written EXPLICITLY (12) — inheritance is positional,
    so rewritten manifests must pin what was already assigned.
    next-row-id -> 37 (the rewrite file consumed 12 ids for potential
    null-_row_id cells even though none remained null)."""
    import pyarrow.parquet as pq

    from ..catalog import table_path

    meta_dir = os.path.join(base, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    pdf = (
        pq.read_table(table_path(sf_dir, "nation"))
        .to_pandas()[["n_nationkey", "n_name", "n_regionkey"]]
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    lo = pdf[pdf.n_nationkey < 12].reset_index(drop=True)
    hi = pdf[pdf.n_nationkey >= 12].reset_index(drop=True)
    _write_lineage_parquet(lo, os.path.join(base, "data", "lin-lo.parquet"))
    _write_lineage_parquet(hi, os.path.join(base, "data", "lin-hi.parquet"))

    write_container(
        os.path.join(meta_dir, "m-lin-1.avro"),
        _LIN_ENTRY_SCHEMA,
        [
            _entry(base, "lin-lo.parquet", len(lo), None),
            _entry(base, "lin-hi.parquet", len(hi), None),
        ],
    )
    write_container(
        os.path.join(meta_dir, "snap-3001.avro"),
        _LIN_MANIFEST_FILE_SCHEMA,
        [_manifest_rec(base, "m-lin-1.avro", 3001, 1, 0)],
    )

    # ---- v2: CoW update of key 5 with materialized lineage
    lo2 = lo.copy()
    lo2[_ROW_ID] = lo2["n_nationkey"].astype("int64")
    lo2[_LAST_SEQ] = 1
    lo2[_LAST_SEQ] = lo2[_LAST_SEQ].astype("object")
    upd = lo2.n_nationkey == 5
    lo2.loc[upd, "n_name"] = "UPDATED"
    lo2.loc[upd, _LAST_SEQ] = None  # null -> inherits the commit's seq (2)
    lo2[_LAST_SEQ] = lo2[_LAST_SEQ].astype("Int64")
    _write_lineage_parquet(lo2, os.path.join(base, "data", "lin-lo2.parquet"))

    write_container(
        os.path.join(meta_dir, "m-lin-2.avro"),
        _LIN_ENTRY_SCHEMA,
        [_entry(base, "lin-lo2.parquet", len(lo2), None)],
    )
    write_container(
        os.path.join(meta_dir, "m-lin-1b.avro"),
        _LIN_ENTRY_SCHEMA,
        # rewritten manifest: the EXISTING entry pins its assigned id
        [_entry(base, "lin-hi.parquet", len(hi), 12, status=0)],
    )
    write_container(
        os.path.join(meta_dir, "snap-3002.avro"),
        _LIN_MANIFEST_FILE_SCHEMA,
        [
            _manifest_rec(base, "m-lin-2.avro", 3002, 2, 25),
            _manifest_rec(base, "m-lin-1b.avro", 3001, 1, None),
        ],
    )

    md = {
        "format-version": 3,
        "table-uuid": "lineage-fixture",
        "location": "file://" + base,
        "last-sequence-number": 2,
        "next-row-id": 37,
        "current-snapshot-id": 3002,
        "schemas": [{"schema-id": 0, "fields": []}],
        "current-schema-id": 0,
        "snapshots": [
            {
                "snapshot-id": 3001,
                "sequence-number": 1,
                "first-row-id": 0,
                "timestamp-ms": 1700000001000,
                "manifest-list": "file://" + os.path.join(meta_dir, "snap-3001.avro"),
                "summary": {"operation": "append"},
            },
            {
                "snapshot-id": 3002,
                "parent-snapshot-id": 3001,
                "sequence-number": 2,
                "first-row-id": 25,
                "timestamp-ms": 1700000002000,
                "manifest-list": "file://" + os.path.join(meta_dir, "snap-3002.avro"),
                "summary": {"operation": "overwrite"},
            },
        ],
    }
    iceberg_commit(base, lambda _v, _prev: md)


def lineage_files(base: str, snapshot_id: int | None = None) -> list[dict]:
    """Plan a v3 snapshot's data files WITH effective lineage metadata:
    ``[{path, first_row_id, seq}]``. Inheritance rule: a null-lineage
    entry takes ``manifest.first_row_id`` plus the running record_count
    of the null-lineage entries before it in the manifest; an explicit
    entry keeps its pinned id (and does not advance the running
    assignment — it was assigned in an earlier snapshot). Refuses
    non-v3 tables loudly (pre-v3 rows have no lineage to materialize)."""
    meta_dir = os.path.join(base, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        md = json.load(fh)
    if md.get("format-version") != 3:
        raise ValueError(
            "row lineage requires an Iceberg format-version 3 table; "
            f"this table is v{md.get('format-version')}"
        )
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    _, manifests = read_container(_resolve_path(base, snap["manifest-list"]))
    out: list[dict] = []
    for m in manifests:
        if m["content"] != 0:
            continue
        _, entries = read_container(_resolve_path(base, m["manifest_path"]))
        running = m.get("first_row_id")
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            df_ = e["data_file"]
            explicit = df_.get("first_row_id")
            if explicit is not None:
                first = explicit
            else:
                if running is None:
                    raise ValueError(
                        f"manifest {m['manifest_path']} has a null-lineage "
                        "entry but no first_row_id to inherit from"
                    )
                first = running
                running += df_["record_count"]
            out.append(
                {
                    "path": _resolve_path(base, df_["file_path"]),
                    "first_row_id": first,
                    "seq": m["sequence_number"],
                }
            )
    return out


def read_with_lineage(
    spark: SparkSession, base: str, snapshot_id: int | None = None
) -> DataFrame:
    """Distributed lineage read: ONE scan per physical-schema group
    (files with vs without materialized lineage columns read
    separately — parquet schema differs), each broadcast-joined to the
    metadata-sized (file -> first_row_id, seq) map, materializing
    row_id / last_upd_seq via the coalesce-with-inheritance rule."""
    import pyarrow.parquet as pq

    files = lineage_files(base, snapshot_id)
    fmap = spark.createDataFrame(
        [(f["path"], f["first_row_id"], f["seq"]) for f in files],
        "__path string, __first bigint, __seq bigint",
    )
    plain, mat = [], []
    for f in files:
        names = pq.read_schema(f["path"]).names
        (mat if _ROW_ID in names else plain).append(f["path"])

    def _branch(paths: list[str], has_cols: bool) -> DataFrame:
        df = spark.read.parquet(*paths).select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
            .alias("__path"),
            F.col("_metadata.row_index").alias("__pos"),
        ).join(F.broadcast(fmap), "__path")
        rid = F.col("__first") + F.col("__pos")
        seq = F.col("__seq")
        if has_cols:
            rid = F.coalesce(F.col(_ROW_ID), rid)
            seq = F.coalesce(F.col(_LAST_SEQ), seq)
        return df.select(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            rid.cast("bigint").alias("row_id"),
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


@query(
    "iceberg_row_lineage_read",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(n_nationkey AS BIGINT) AS row_id,
           CAST(1 AS BIGINT)           AS last_upd_seq
    FROM nation
    """,
)
def iceberg_row_lineage_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inheritance read path on the pre-update snapshot: both files are
    null-lineage entries of one manifest (first_row_id 0), so lo
    inherits 0 and hi inherits 0+12 — and because nation keys are
    contiguous-sorted, every row's inherited _row_id EQUALS its
    n_nationkey, which the value oracle certifies cell-by-cell. All 25
    rows report last_upd_seq 1 (the append's sequence number)."""
    base = _fixture(spark, sf_dir)
    return read_with_lineage(spark, base, snapshot_id=3001)


@query(
    "iceberg_row_lineage_update",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 5 THEN 'UPDATED' ELSE n_name END AS n_name,
           n_regionkey,
           CAST(n_nationkey AS BIGINT) AS row_id,
           CAST(CASE WHEN n_nationkey = 5 THEN 2 ELSE 1 END AS BIGINT)
             AS last_upd_seq
    FROM nation
    """,
)
def iceberg_row_lineage_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage across a copy-on-write UPDATE: the rewrite file carries
    materialized _row_id (identity STABLE across the rewrite — every
    row keeps row_id == n_nationkey) and materialized
    last-updated-sequence 1 for carried-over rows; the UPDATED row's
    null materialized sequence inherits the update commit's sequence
    number 2. The surviving file's rewritten-manifest entry pins its
    previously-assigned first_row_id explicitly (12)."""
    base = _fixture(spark, sf_dir)
    return read_with_lineage(spark, base)


def _fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir, "iceberg_row_lineage", partial(_build_lineage_fixture, spark, sf_dir)
    )
