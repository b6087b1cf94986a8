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

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.avro_codec import read_container
from ..registry import query
from .iceberg_reader import (
    _NATION_ICEBERG_FIELDS,
    _entry,
    _load_metadata,
    _manifest,
    _manifests,
    _new_table,
    _resolve_path,
    _snapshot,
    commit as iceberg_commit,
)
from .sources import built

_ROW_ID = "_row_id"
_LAST_SEQ = "_last_updated_sequence_number"


def _write_lineage_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


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

    md = _new_table(
        base,
        _NATION_ICEBERG_FIELDS,
        uuid="lineage-fixture",
        format_version=3,
    )
    # v1: both entries null-lineage, inheriting from the manifest's 0
    m1 = _manifest(
        base,
        md,
        "m-lin-1.avro",
        [
            _entry(base, "lin-lo.parquet", 0, len(lo)),
            _entry(base, "lin-hi.parquet", 0, len(hi)),
        ],
        0,
        3001,
        1,
    )
    md = _snapshot(
        base,
        md,
        [{**m1, "first_row_id": 0}],
        "append",
        snap_id=3001,
        seq=1,
        ts=1700000001000,
        **{"first-row-id": 0},
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

    m2 = _manifest(
        base, md, "m-lin-2.avro",
        [_entry(base, "lin-lo2.parquet", 0, len(lo2))],
        0, 3002, 2,
    )
    # rewritten manifest: the EXISTING entry pins its assigned id
    m1b = _manifest(
        base, md, "m-lin-1b.avro",
        [_entry(base, "lin-hi.parquet", 0, len(hi), status=0, first_row_id=12)],
        0, 3001, 1,
    )
    md = _snapshot(
        base,
        {**md, "next-row-id": 37},
        [{**m2, "first_row_id": 25}, m1b],
        "overwrite",
        snap_id=3002,
        seq=2,
        ts=1700000002000,
        **{"first-row-id": 25},
    )
    iceberg_commit(base, lambda _v, _prev: md)


def lineage_files(base: str, snapshot_id: int | None = None) -> list[dict]:
    """Plan a v3 snapshot's data files WITH effective lineage metadata:
    ``[{path, first_row_id, seq}]``. Inheritance rule: a null-lineage
    entry takes ``manifest.first_row_id`` plus the running record_count
    of the null-lineage entries before it in the manifest; an explicit
    entry keeps its pinned id (and does not advance the running
    assignment — it was assigned in an earlier snapshot). Refuses
    non-v3 tables loudly (pre-v3 rows have no lineage to materialize)."""
    md = _load_metadata(base)
    if md.get("format-version") != 3:
        raise ValueError(
            "row lineage requires an Iceberg format-version 3 table; "
            f"this table is v{md.get('format-version')}"
        )
    manifests = _manifests(base, md, snapshot_id)
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
