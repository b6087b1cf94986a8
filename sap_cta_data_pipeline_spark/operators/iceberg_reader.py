"""Apache Iceberg table reader, and the one commit path of every Iceberg
writer in this package.

The open Iceberg spec (iceberg.apache.org/spec — table format v2) is
plain JSON table metadata plus AVRO manifest files; no avro package is
a dependency, so functions/avro_codec.py implements the container
format from the published spec.

Layout read here:

- ``metadata/version-hint.text`` → ``metadata/v<N>.metadata.json`` —
  format-version, schemas, partition specs, the snapshot list, and
  ``current-snapshot-id``; every snapshot names its ``manifest-list``.
- manifest list (Avro): one ``manifest_file`` record per manifest —
  ``manifest_path``, ``content`` (0 = data, 1 = deletes),
  ``added_snapshot_id``, sequence numbers.
- manifest (Avro): one ``manifest_entry`` per file — ``status``
  (1 added / 0 existing / 2 deleted) and the ``data_file`` struct
  (``content``, ``file_path``, ``file_format``, ``partition``,
  ``record_count``).
- v2 row-level deletes: POSITION delete files are themselves parquet
  with columns ``(file_path string, pos long)`` — read DISTRIBUTED and
  applied as an anti-join on ``(_metadata.file_path,
  _metadata.row_index)``, the same merge-on-read shape as the Delta DV
  lane (delta_reader.py) and txnlog_merge_on_read (table_log.py).

Scale notes: metadata.json + manifests are metadata-sized driver work
(KBs-MBs — exactly what production Iceberg readers replay); the data
scan AND the position-delete scan are distributed parquet reads, so the
delete set never materializes on the driver (unlike Delta DVs, Iceberg's
deletes are already parquet — the anti-join build side is a shuffle-free
broadcast only if Spark sizes it so; AQE decides). Time travel is
snapshot-id addressing into the SAME metadata file — no log replay at
all, the design reason Iceberg scans plan in O(manifests-for-snapshot).

Commits: every Iceberg writer commits through ``commit(base, build,
read_v=None)``. Each attempt probes the newest ``v<N>.metadata.json``
(``_tip`` — writers never trust the advisory hint), asks ``build(N,
metadata)`` for the next metadata and puts ``v<N+1>.metadata.json`` if
absent. A REBUILD commit (appends, fixture builders) that loses its
slot rebuilds on the fresh tip; a READ-DEPENDENT commit, planned
against version ``read_v``, aborts with ``IcebergCommitConflict`` once
the tip has moved. ``version-hint.text`` is written after every
successful commit.

Snapshots: every Iceberg writer and fixture builder in this package
builds what it commits through five helpers here, over one manifest
schema:

- ``_new_table(base, fields, *, uuid, partition_fields=(),
  format_version=2, **extra)`` — the metadata of an empty table;
- ``_entry(base, rel, content, n_rows, **data_file)`` — one manifest
  entry; ``_entry_schema(md, spec_id=None)`` is the one manifest-entry
  schema (the v2/v3 superset, partition record from the table's spec);
- ``_manifest(base, md, rel, entries, content, snap_id, seq)`` — writes
  ``metadata/<rel>`` and returns its manifest-list record;
- ``_manifests(base, md, snapshot_id=None)`` — a snapshot's manifest
  list (default: the current one);
- ``_snapshot(base, md, manifests, operation, *, snap_id, seq, ts,
  **fields)`` — writes ``snap-<id>.avro`` and returns ``md`` with the
  new snapshot current, recording its ``parent-snapshot-id`` and
  ``schema-id``.

The result goes to ``commit``.
"""

from __future__ import annotations

import json
import os
import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table_path
from ..functions.avro_codec import read_container, write_container
from ..registry import query
from .delta_reader import _write_parquet_file
from .sources import built, drain_to_memory

# ------------------------------------------------------------- metadata


def _load_metadata(base: str) -> dict:
    hint = os.path.join(base, "metadata", "version-hint.text")
    if not os.path.exists(hint):
        raise FileNotFoundError(f"no Iceberg version hint under {base}")
    with open(hint) as fh:
        n = int(fh.read().strip())
    with open(os.path.join(base, "metadata", f"v{n}.metadata.json")) as fh:
        meta = json.load(fh)
    fv = meta.get("format-version")
    # v3 is accepted: its row-level-delete feature (deletion
    # vectors in Puffin files) is implemented end to end; other v3-only
    # features surface as loud per-entry refusals, not silent misreads.
    if fv not in (1, 2, 3):
        raise ValueError(f"unsupported Iceberg format-version {fv}")
    return meta


def _current_schema(meta: dict) -> list[dict]:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return s["fields"]
    # format v1 fallback: a single top-level "schema"
    if "schema" in meta:
        return meta["schema"]["fields"]
    raise ValueError("no current schema in Iceberg metadata")


_ICEBERG_TO_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
    # Iceberg "timestamp" is micros WITHOUT zone — exactly Spark's
    # timestamp_ntz; "timestamptz" (zone-adjusted) stays unsupported so
    # no read can depend on session time zone (the hostile-tz gate)
    "timestamp": T.TimestampNTZType(),
}


def _spark_schema(fields: list[dict]) -> T.StructType:
    out = []
    for f in fields:
        t = f["type"]
        if not isinstance(t, str) or t not in _ICEBERG_TO_SPARK:
            raise ValueError(f"unsupported Iceberg field type {t!r}")
        out.append(
            T.StructField(f["name"], _ICEBERG_TO_SPARK[t], not f["required"])
        )
    return T.StructType(out)


def _resolve_path(base: str, p: str) -> str:
    """Manifest paths are URIs; resolve file: URIs and relative paths to
    local filesystem paths under/alongside ``base``."""
    if p.startswith("file://"):
        return p[len("file:") :].replace("///", "/", 1) if p.startswith(
            "file:///"
        ) else p[len("file://") :]
    if os.path.isabs(p):
        return p
    return os.path.join(base, p)


def iceberg_state(
    base: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
) -> tuple[T.StructType, list[dict], list[dict], list[dict]]:
    """Resolve the file sets for a snapshot (None = current): returns
    ``(spark schema, data_files, pos_deletes, eq_deletes)`` where
    ``data_files`` entries are ``{"path", "seq"}`` dicts, ``pos_deletes``
    entries are ``{"path", "seq"}`` dicts, and ``eq_deletes`` entries are
    ``{"path", "cols", "seq"}`` dicts (equality field NAMES resolved from
    the schema's field ids).

    ``partition_filter`` (partition field name -> value) drops data
    files DRIVER-side from each manifest entry's ``data_file.partition``
    record — Iceberg's metadata file skipping: a one-partition query
    plans one partition's files from pure manifest metadata, no listing,
    no footer reads of skipped files (delete manifests are never
    partition-filtered here: a position delete may target any file).

    Driver-side METADATA work only: metadata.json + the snapshot's
    manifest list + its manifests — one record per file, never row data.
    Every delete entry carries its data sequence number so the snapshot
    reader can honor the spec's sequence gates: an equality delete
    applies only to data files with a STRICTLY SMALLER sequence number;
    a position delete applies only to data files with sequence number
    ``<=`` the delete's (a file added LATER at a reused/rewritten path
    must not lose rows).
    """
    meta = _load_metadata(base)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    if sid not in snaps:
        raise ValueError(
            f"unknown Iceberg snapshot-id {sid} (have {sorted(snaps)})"
        )
    fields = _current_schema(meta)
    schema = _spark_schema(fields)
    name_of_id = {f["id"]: f["name"] for f in fields}
    _, manifests = read_container(
        _resolve_path(base, snaps[sid]["manifest-list"])
    )
    data_files: list[dict] = []
    delete_files: list[dict] = []
    eq_deletes: list[dict] = []
    for m in manifests:
        _, entries = read_container(_resolve_path(base, m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:  # DELETED — file dropped from snapshot
                continue
            # Presence-aware pruning (partition-spec evolution): a file
            # written under an OLDER spec lacks the newer partition field
            # in its partition record and therefore CANNOT be pruned on
            # it — only entries that carry the field and mismatch drop.
            part_rec = e["data_file"].get("partition") or {}
            if (
                partition_filter
                and m.get("content", 0) == 0
                and e["data_file"].get("content", 0) == 0
                and any(
                    k in part_rec and part_rec[k] != v
                    for k, v in partition_filter.items()
                )
            ):
                continue
            df = e["data_file"]
            path = _resolve_path(base, df["file_path"])
            # entry-level sequence number; null inherits the manifest's
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number", 0)
            content = max(m.get("content", 0), df.get("content", 0))
            fmt = df.get("file_format", "PARQUET").upper()
            if fmt == "PUFFIN":
                # v3 DELETION VECTOR: a position-delete entry whose blob
                # lives in a Puffin file, addressed by the manifest's
                # (referenced_data_file, content_offset,
                # content_size_in_bytes) triple — spec v3 "Deletion
                # vectors". Anything else in Puffin form is refused with
                # the format evidence.
                ref = df.get("referenced_data_file")
                off = df.get("content_offset")
                sz = df.get("content_size_in_bytes")
                if content != 1 or ref is None or off is None or sz is None:
                    raise ValueError(
                        f"Puffin manifest entry {path} is not a spec-v3 "
                        f"deletion vector (content={content}, "
                        f"referenced_data_file={ref!r}, content_offset={off!r}, "
                        f"content_size_in_bytes={sz!r}) — only DV blobs are "
                        "readable Puffin content"
                    )
                delete_files.append(
                    {
                        "path": path,
                        "seq": seq,
                        "format": "puffin",
                        "referenced": _resolve_path(base, ref),
                        "offset": int(off),
                        "size": int(sz),
                    }
                )
                continue
            if fmt != "PARQUET":
                raise ValueError(
                    f"unsupported Iceberg file format {df['file_format']!r}"
                )
            if content == 0:
                # the entry's partition record rides along so DML
                # rewrites can re-emit it (a CoW rewrite keeps every
                # row in its file's partition)
                data_files.append(
                    {"path": path, "seq": seq, "partition": part_rec}
                )
            elif content == 1:
                delete_files.append({"path": path, "seq": seq})
            else:  # content == 2: equality delete
                ids = df.get("equality_ids") or []
                if not ids:
                    raise ValueError(
                        f"equality delete {path} carries no equality_ids"
                    )
                try:
                    cols = [name_of_id[i] for i in ids]
                except KeyError as ex:
                    raise ValueError(
                        f"equality delete {path} names unknown field id {ex}"
                    ) from None
                eq_deletes.append({"path": path, "cols": cols, "seq": seq})
    return (
        schema,
        sorted(data_files, key=lambda d: d["path"]),
        sorted(delete_files, key=lambda d: d["path"]),
        sorted(eq_deletes, key=lambda d: d["path"]),
    )


def iceberg_snapshot(
    spark: SparkSession,
    base: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Distributed read of an Iceberg snapshot with v2 row-level deletes
    applied merge-on-read: POSITION deletes as a (file, row-position)
    anti-join over all planned files, EQUALITY deletes as anti-joins on
    their equality columns applied ONLY to data files with a strictly
    smaller data sequence number (the spec's gate — a row re-inserted
    AFTER the delete must survive it, pinned in tests). Delete groups
    are metadata-sized, so the plan composes one branch per distinct
    (equality columns, sequence) group plus one branch for untouched
    files; both delete sides are distributed parquet scans."""
    schema, data_entries, pos_deletes, eq_deletes = iceberg_state(
        base, snapshot_id, partition_filter
    )
    if not data_entries:
        return spark.createDataFrame([], schema)

    # v3 deletion vectors decode DRIVER-side once (a DV is KBs of
    # metadata per file, same contract as the Delta DV path); parquet
    # position-delete files stay distributed scans.
    _dv_rows_cache: dict[int, list[tuple[str, int]]] = {}

    def _dv_rows(i: int) -> list[tuple[str, int]]:
        if i not in _dv_rows_cache:
            from ..functions.puffin import deserialize_dv_blob, read_blob

            d = pos_deletes[i]
            blob = read_blob(d["path"], d["offset"], d["size"])
            ref = d["referenced"]
            _dv_rows_cache[i] = [(ref, int(p)) for p in deserialize_dv_blob(blob)]
        return _dv_rows_cache[i]

    def _read(paths: list[str], psig: tuple) -> DataFrame:
        df = spark.read.schema(schema).parquet(*paths)
        if not psig:
            return df
        pq_idx = [i for i in psig if pos_deletes[i].get("format") != "puffin"]
        dv_idx = [i for i in psig if pos_deletes[i].get("format") == "puffin"]
        frames = []
        if pq_idx:
            frames.append(
                spark.read.parquet(*[pos_deletes[i]["path"] for i in pq_idx]).select(
                    F.regexp_replace(F.col("file_path"), "^file:/+", "/").alias(
                        "__ib_fp"
                    ),
                    F.col("pos").alias("__ib_ri"),
                )
            )
        if dv_idx:
            rows = [r for i in dv_idx for r in _dv_rows(i)]
            frames.append(
                spark.createDataFrame(rows, "__ib_fp string, __ib_ri bigint")
            )
        dels = frames[0]
        for extra in frames[1:]:
            dels = dels.unionByName(extra)
        # position deletes are applied AT THE SCAN (the _metadata columns
        # resolve against the file-source relation, before any union)
        tagged = df.select(
            "*",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ).alias("__ib_fp"),
            F.col("_metadata.row_index").alias("__ib_ri"),
        )
        return tagged.join(dels, ["__ib_fp", "__ib_ri"], "left_anti").drop(
            "__ib_fp", "__ib_ri"
        )

    # group data files by the SET of delete groups that apply under the
    # spec's sequence gates — position deletes apply to files with
    # file.seq <= delete.seq (a file added later at a reused/rewritten
    # path must not lose rows), equality deletes to
    # files with file.seq STRICTLY < delete.seq. One plan branch per
    # signature; group count is bounded by distinct delete sequences,
    # metadata-sized.
    groups: dict[tuple, list[str]] = {}
    for d in data_entries:
        psig = tuple(
            i for i, pd_ in enumerate(pos_deletes) if pd_["seq"] >= d["seq"]
        )
        esig = tuple(
            i for i, ed in enumerate(eq_deletes) if ed["seq"] > d["seq"]
        )
        groups.setdefault((psig, esig), []).append(d["path"])
    pieces = []
    for (psig, esig), paths in sorted(groups.items()):
        piece = _read(paths, psig)
        for i in esig:
            ed = eq_deletes[i]
            keys = spark.read.parquet(ed["path"]).select(*ed["cols"])
            piece = piece.join(keys, ed["cols"], "left_anti")
        pieces.append(piece)
    df = pieces[0]
    for p in pieces[1:]:
        df = df.unionByName(p)
    return df


# ---------------------------------------------------------------- fixture

_NATION_ICEBERG_FIELDS = [
    {"id": 1, "name": "n_nationkey", "required": False, "type": "int"},
    {"id": 2, "name": "n_name", "required": False, "type": "string"},
    {"id": 3, "name": "n_regionkey", "required": False, "type": "int"},
]


def _build_iceberg_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Two-snapshot Iceberg v2 table over nation:

    snapshot 1001 (v1.metadata.json): data part-lo (keys 0-11, sorted) +
        part-hi (keys 12-24, sorted); manifest list → one DATA manifest.
    snapshot 1002 (v2.metadata.json, current): adds a POSITION-delete
        parquet ``(file_path, pos)`` deleting rows 1,3,5 of part-lo and
        0,2 of part-hi (keys {1,3,5,12,14}); manifest list → the data
        manifest (re-listed, status EXISTING) + one DELETE manifest.

    version-hint.text → 2. All manifests are deflate-coded Avro written
    by functions/avro_codec.py; paths are file: URIs per the spec."""
    import pandas as pd
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    lo = pdf[pdf.n_nationkey < 12]
    hi = pdf[pdf.n_nationkey >= 12]
    lo_path = os.path.join(base, "data", "part-lo.parquet")
    hi_path = os.path.join(base, "data", "part-hi.parquet")
    _write_parquet_file(tbl.schema, lo, lo_path)
    _write_parquet_file(tbl.schema, hi, hi_path)

    # position-delete file: plain parquet (file_path, pos) per the spec
    import pyarrow as pa

    del_rows = pd.DataFrame(
        {
            "file_path": ["file://" + lo_path] * 3 + ["file://" + hi_path] * 2,
            "pos": [1, 3, 5, 0, 2],
        }
    )
    del_schema = pa.schema(
        [pa.field("file_path", pa.string()), pa.field("pos", pa.int64())]
    )
    del_path = os.path.join(base, "data", "delete-0.parquet")
    _write_parquet_file(del_schema, del_rows, del_path)

    md = _new_table(
        base, _NATION_ICEBERG_FIELDS, uuid="0f1e2d3c-0000-4000-8000-000000001234"
    )
    data = _manifest(
        base,
        md,
        "m1-data.avro",
        [
            _entry(base, "part-lo.parquet", 0, len(lo)),
            _entry(base, "part-hi.parquet", 0, len(hi)),
        ],
        0,
        1001,
        1,
    )
    md = _snapshot(
        base, md, [data], "append", snap_id=1001, seq=1, ts=1700000000000
    )
    commit(base, lambda _v, _prev: md)
    dels = _manifest(
        base, md, "m2-deletes.avro", [_entry(base, "delete-0.parquet", 1, 5)],
        1, 1002, 2,
    )
    md = _snapshot(
        base, md, [data, dels], "delete", snap_id=1002, seq=2, ts=1700000001000
    )
    commit(base, lambda _v, _prev: md)


# ---------------------------------------------------------------- queries


@query(
    "scan_iceberg_snapshot",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey NOT IN (1, 3, 5, 12, 14)
    """,
)
def scan_iceberg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current snapshot of an Iceberg v2 table — version-hint →
    metadata.json → manifest-list Avro → manifests Avro (all decoded by
    the from-scratch stdlib codec) → distributed parquet scan, with the
    snapshot's POSITION-delete files applied as a distributed
    (file, row-position) anti-join. The identity oracle (nation minus
    the five deleted keys) certifies the whole chain — container decode,
    manifest semantics, delete application — in one hash."""
    base = built(
        sf_dir, "iceberg_table", partial(_build_iceberg_fixture, spark, sf_dir)
    )
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "scan_iceberg_time_travel",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-id time travel: snapshot 1001 predates the delete, so
    the read returns FULL nation while the current snapshot hides five
    keys. Iceberg time travel is pure snapshot addressing (each snapshot
    pins its own manifest list — no log replay), which is why historical
    reads plan in O(manifests) regardless of table age."""
    base = built(
        sf_dir, "iceberg_table", partial(_build_iceberg_fixture, spark, sf_dir)
    )
    return iceberg_snapshot(spark, base, snapshot_id=1001).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _build_iceberg_part_fixture(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """Single-snapshot Iceberg v2 table over nation PARTITIONED by
    identity(n_regionkey): five data files (which — Iceberg-style, unlike
    Hive/Delta — STILL CONTAIN the partition column), each manifest entry
    carrying the typed ``partition`` record the reader prunes on."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    md = _new_table(
        base,
        _NATION_ICEBERG_FIELDS,
        uuid="0f1e2d3c-0000-4000-8000-000000005678",
        partition_fields=[
            {
                "name": "n_regionkey",
                "transform": "identity",
                "source-id": 3,
                "field-id": 1000,
            }
        ],
    )
    entries = []
    for rk in sorted(pdf.n_regionkey.unique()):
        rel = f"rk={int(rk)}.parquet"
        sub = pdf[pdf.n_regionkey == rk]
        _write_parquet_file(tbl.schema, sub, os.path.join(base, "data", rel))
        entries.append(
            _entry(base, rel, 0, len(sub), partition={"n_regionkey": int(rk)})
        )
    m = _manifest(base, md, "m1-data.avro", entries, 0, 2001, 1)
    md = _snapshot(
        base, md, [m], "append", snap_id=2001, seq=1, ts=1700000000000
    )
    commit(base, lambda _v, _prev: md)


def _part_fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir,
        "iceberg_table_part",
        partial(_build_iceberg_part_fixture, spark, sf_dir),
    )


@query(
    "scan_iceberg_partition_prune",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey = 2
    """,
)
def scan_iceberg_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned Iceberg read: each manifest entry carries a TYPED
    ``partition`` record (identity(n_regionkey) spec), so a one-partition
    query drops 4 of 5 files DRIVER-side from pure manifest metadata —
    no listing, no footer reads of skipped files (pinned via inputFiles
    in tests). Unlike Hive/Delta layouts the data files still contain
    the partition column (Iceberg keeps it), so the scan needs no column
    reconstruction — pruning is purely a file-set decision. At 100 TB
    this is why Iceberg plans in O(manifest entries), not O(files
    listed)."""
    base = _part_fixture(spark, sf_dir)
    return iceberg_snapshot(
        spark, base, partition_filter={"n_regionkey": 2}
    ).select("n_nationkey", "n_name", "n_regionkey")


def _build_iceberg_eq_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Iceberg v2 table exercising EQUALITY deletes and the sequence
    gate:

    - part-lo (keys 0-11) + part-hi (keys 12-24), data sequence 1;
    - del-eq.parquet: equality delete on field id 2 (n_name), values
      {NATION_8, NATION_20}, sequence 3 — applies to both seq-1 files;
    - part-new.parquet: the NATION_8 row RE-INSERTED at sequence 4 —
      strictly after the delete, so the spec's strict-inequality gate
      must let it SURVIVE.

    Snapshot result = nation minus NATION_20 (NATION_8 deleted then
    re-added identically)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    lo = pdf[pdf.n_nationkey < 12]
    hi = pdf[pdf.n_nationkey >= 12]
    renew = pdf[pdf.n_nationkey == 8]
    _write_parquet_file(tbl.schema, lo, os.path.join(base, "data", "part-lo.parquet"))
    _write_parquet_file(tbl.schema, hi, os.path.join(base, "data", "part-hi.parquet"))
    _write_parquet_file(
        tbl.schema, renew, os.path.join(base, "data", "part-new.parquet")
    )
    import pandas as pd
    import pyarrow as pa

    _write_parquet_file(
        pa.schema([pa.field("n_name", pa.string())]),
        pd.DataFrame({"n_name": ["NATION_8", "NATION_20"]}),
        os.path.join(base, "data", "del-eq.parquet"),
    )
    md = _new_table(
        base, _NATION_ICEBERG_FIELDS, uuid="0f1e2d3c-0000-4000-8000-00000000abcd"
    )
    data = _manifest(
        base,
        md,
        "m1-data.avro",
        [
            _entry(base, "part-lo.parquet", 0, len(lo), seq=1),
            _entry(base, "part-hi.parquet", 0, len(hi), seq=1),
            _entry(base, "part-new.parquet", 0, 1, seq=4),
        ],
        0,
        3001,
        1,
    )
    dels = _manifest(
        base,
        md,
        "m2-eqdel.avro",
        [_entry(base, "del-eq.parquet", 2, 2, seq=3, equality_ids=[2])],
        1,
        3001,
        3,
    )
    md = _snapshot(
        base, md, [data, dels], "overwrite", snap_id=3001, seq=4, ts=1700000002000
    )
    commit(base, lambda _v, _prev: md)


def _eq_fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir, "iceberg_table_eq", partial(_build_iceberg_eq_fixture, spark, sf_dir)
    )


@query(
    "scan_iceberg_eq_deletes",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey <> 20
    """,
)
def scan_iceberg_eq_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes with the sequence gate: the delete
    file (equality_ids → column names via the schema's field ids) is
    applied as a distributed anti-join on those columns, but ONLY to
    data files whose data sequence number is STRICTLY smaller than the
    delete's — the re-inserted NATION_8 row (sequence 4 > delete's 3)
    must survive while the original (sequence 1) is deleted, which the
    oracle certifies: the result is nation minus NATION_20 with
    NATION_8 present exactly once. Data files are grouped into plan
    branches by their applicable-delete signature (bounded by distinct
    delete sequences — metadata-sized), so at 100 TB the eq-delete
    apply is per-branch anti-joins on distributed scans, never a
    driver-side row set."""
    base = _eq_fixture(spark, sf_dir)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ---------------------------------------------------------------- writer

_SPARK_TO_ICEBERG = {
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamp_ntz": "timestamp",  # micros, no zone (spec "timestamp")
}


def _iceberg_fields_of(schema: T.StructType) -> list[dict]:
    out = []
    for i, f in enumerate(schema.fields, start=1):
        tn = f.dataType.typeName()
        if tn not in _SPARK_TO_ICEBERG:
            raise ValueError(f"unsupported type for Iceberg write: {tn}")
        out.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": _SPARK_TO_ICEBERG[tn],
            }
        )
    return out


class IcebergCommitConflict(Exception):
    """Another writer already produced this metadata version (loser of
    the put-if-absent race on v<N>.metadata.json — Iceberg's optimistic
    concurrency is exactly this atomic swap; on object stores it is the
    catalog's compare-and-swap), a read-dependent commit found the tip
    moved, or ``commit`` lost ten slots in a row."""


_METADATA_RE = re.compile(r"^v(\d+)\.metadata\.json$")


def _tip(meta_dir: str) -> tuple[int, dict | None]:
    """Probe the metadata directory for the newest ``v<N>.metadata.json``:
    returns (N, its metadata), or (0, None) for an empty table. Writers
    probe, never trust ``version-hint.text``: the hint is advisory (a
    racing winner may not have updated it yet)."""
    versions = [
        int(m.group(1))
        for f in (os.listdir(meta_dir) if os.path.isdir(meta_dir) else [])
        if (m := _METADATA_RE.match(f))
    ]
    if not versions:
        return 0, None
    v = max(versions)
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        return v, json.load(fh)


def _put_metadata_if_absent(meta_dir: str, version: int, md: dict) -> None:
    tmp = os.path.join(meta_dir, f".tmp-{os.getpid()}-v{version}.json")
    with open(tmp, "w") as fh:
        json.dump(md, fh)
    dst = os.path.join(meta_dir, f"v{version}.metadata.json")
    try:
        os.link(tmp, dst)
    except FileExistsError:
        raise IcebergCommitConflict(
            f"metadata version {version} already committed under {meta_dir}"
        ) from None
    finally:
        os.remove(tmp)


def commit(base: str, build, read_v: int | None = None) -> int:
    """Commit the metadata ``build(cur_v, prev)`` returns as version
    ``cur_v + 1`` of the table at ``base``; returns that version. The one
    optimistic-concurrency rule every Iceberg writer here goes through.
    Each attempt probes the tip (``_tip``), then:

    - ``read_v=None`` — a commit that REBUILDS on the fresh tip (appends,
      equality deletes, fixture builders): ``build`` runs on every
      attempt against the tip it is given, and a lost put-if-absent slot
      retries on the new tip.
    - ``read_v=N`` — a READ-DEPENDENT commit planned against metadata
      version N (row-level deletes, rewrites, expiry, ref moves): if the
      tip is no longer N it raises ``IcebergCommitConflict("concurrent
      commit: ...")`` instead of committing a stale plan.

    ``version-hint.text`` is written after every successful commit. After
    10 lost slots it raises ``IcebergCommitConflict``."""
    meta_dir = os.path.join(base, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    for _ in range(10):
        cur_v, prev = _tip(meta_dir)
        if read_v is not None and cur_v != read_v:
            raise IcebergCommitConflict(
                f"concurrent commit: metadata version {cur_v} under {meta_dir} "
                f"landed after the plan at version {read_v}; recompute"
            )
        md = build(cur_v, prev)
        try:
            _put_metadata_if_absent(meta_dir, cur_v + 1, md)
        except IcebergCommitConflict:
            continue
        with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
            fh.write(str(cur_v + 1))
        return cur_v + 1
    raise IcebergCommitConflict(
        f"gave up after 10 contended metadata versions under {meta_dir}"
    )


# ------------------------------------------------------- snapshot writer

_AVRO_OF_ICEBERG = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": "int",  # days since epoch, per the spec's avro mapping
}


def _opt(name: str, avro_type, field_id: int) -> dict:
    """An optional Avro field: nullable, null by default."""
    return {
        "name": name,
        "type": ["null", avro_type],
        "default": None,
        "field-id": field_id,
    }


def _bounds(key_id: int) -> dict:
    """A column-bounds map in the spec's k/v array form: (field id,
    single-value-serialized bytes) records."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k{key_id}_v{key_id + 1}",
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "bytes", "field-id": key_id + 1},
            ],
        },
    }


def _entry_schema(md: dict, spec_id: int | None = None) -> dict:
    """The one manifest-entry Avro schema, the v2/v3 superset: every
    optional entry and data-file field is nullable with a null default,
    so an entry sets only the fields it has. The partition record holds
    one nullable field per field of partition spec ``spec_id`` (default:
    the table's default spec), typed as the transform's result over its
    source column; it declares no default, so an entry must carry every
    one of them. ``md`` without partition specs (``{}``) gives the empty
    partition record."""
    from ..functions.transforms import result_iceberg_type

    sid = md.get("default-spec-id", 0) if spec_id is None else spec_id
    spec = next(
        (s for s in md.get("partition-specs", []) if s["spec-id"] == sid),
        {"fields": []},
    )
    part = []
    if spec["fields"]:
        type_of = {f["id"]: f["type"] for f in _current_schema(md)}
        for pf in spec["fields"]:
            src_t = type_of[pf["source-id"]]
            t = result_iceberg_type(pf.get("transform", "identity"), src_t)
            if not isinstance(t, str) or t not in _AVRO_OF_ICEBERG:
                raise ValueError(
                    f"partition field {pf['name']!r} ({pf.get('transform')} "
                    f"over type {src_t!r}) has no claimed Avro manifest mapping"
                )
            part.append(
                {
                    "name": pf["name"],
                    "type": ["null", _AVRO_OF_ICEBERG[t]],
                    "field-id": pf["field-id"],
                }
            )
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "field-id": 102,
                "type": {"type": "record", "name": "r102", "fields": part},
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            _opt("lower_bounds", _bounds(126), 125),
            _opt("upper_bounds", _bounds(129), 128),
            _opt("equality_ids", {"type": "array", "items": "int"}, 135),
            # v3: null = inherit from the manifest's first_row_id
            _opt("first_row_id", "long", 142),
            # v3 deletion vectors: the blob's data file and Puffin range
            _opt("referenced_data_file", "string", 143),
            _opt("content_offset", "long", 144),
            _opt("content_size_in_bytes", "long", 145),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            _opt("snapshot_id", "long", 1),
            # null = inherit the manifest's sequence number
            _opt("sequence_number", "long", 3),
            {"name": "data_file", "field-id": 2, "type": data_file},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
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
        # v3: first row id of this manifest's null-lineage entries
        _opt("first_row_id", "long", 520),
    ],
}


def _entry(
    base: str,
    rel: str,
    content: int,
    n_rows: int,
    *,
    status: int = 1,
    seq: int | None = None,
    **data_file,
) -> dict:
    """Manifest entry for the file ``data/<rel>`` (an absolute ``rel``
    names a file outside the table). ``content`` 0/1/2 = data /
    position deletes / equality deletes; ``status`` 1/0/2 = added /
    existing / deleted; ``seq`` None inherits the manifest's sequence
    number. ``data_file`` sets optional data-file fields (``partition``,
    bounds, ``equality_ids``, ``first_row_id``, DV addressing)."""
    path = os.path.join(base, "data", rel)
    return {
        "status": status,
        "snapshot_id": None,
        "sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": "file://" + path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n_rows,
            "file_size_in_bytes": os.path.getsize(path),
            **data_file,
        },
    }


def _manifest(
    base: str,
    md: dict,
    rel: str,
    entries: list[dict],
    content: int,
    snap_id: int,
    seq: int,
    spec_id: int | None = None,
) -> dict:
    """Write the manifest ``metadata/<rel>`` of ``entries`` under
    ``_entry_schema(md, spec_id)``; returns its manifest-list record
    (``content`` 0 = data, 1 = deletes; added by ``snap_id`` at
    sequence ``seq``). Entries that carry no partition values are
    written with an empty partition record: a partition filter can never
    prune such a file, as it cannot prune one written under an older,
    unpartitioned spec."""
    path = os.path.join(base, "metadata", rel)
    partitioned = any(e["data_file"]["partition"] for e in entries)
    write_container(
        path, _entry_schema(md if partitioned else {}, spec_id), entries
    )
    return {
        "manifest_path": "file://" + path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": (
            md.get("default-spec-id", 0) if spec_id is None else spec_id
        ),
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
    }


def _manifests(base: str, md: dict, snapshot_id: int | None = None) -> list[dict]:
    """The manifest list of snapshot ``snapshot_id`` (default: the
    current snapshot; empty for a table without one)."""
    sid = md.get("current-snapshot-id") if snapshot_id is None else snapshot_id
    if sid is None:
        return []
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    return read_container(_resolve_path(base, snap["manifest-list"]))[1]


def _next_ids(md: dict) -> tuple[int, int]:
    """(sequence number, snapshot id) of the table's next snapshot."""
    seq = md.get("last-sequence-number", 0) + 1
    return seq, 1000 + seq


def _snapshot(
    base: str,
    md: dict,
    manifests: list[dict],
    operation: str,
    *,
    snap_id: int | None = None,
    seq: int | None = None,
    ts: int | None = None,
    **fields,
) -> dict:
    """Write the manifest list ``metadata/snap-<id>.avro`` of
    ``manifests`` and return a copy of ``md`` with the new snapshot
    current. Defaults: ``seq`` and ``snap_id`` from ``_next_ids(md)``,
    ``ts`` = 1700000000000 + seq. The snapshot records its
    ``parent-snapshot-id`` (the current snapshot, when there is one) and
    the ``schema-id`` it was written with (``current-schema-id``);
    ``fields`` override any snapshot field."""
    next_seq, next_id = _next_ids(md)
    seq = next_seq if seq is None else seq
    snap_id = next_id if snap_id is None else snap_id
    ts = 1700000000000 + seq if ts is None else ts
    ml = os.path.join(base, "metadata", f"snap-{snap_id}.avro")
    write_container(ml, _MANIFEST_FILE_SCHEMA, manifests)
    snap = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": "file://" + ml,
        "summary": {"operation": operation},
        "schema-id": md.get("current-schema-id", 0),
    }
    if md.get("current-snapshot-id") is not None:
        snap["parent-snapshot-id"] = md["current-snapshot-id"]
    snap.update(fields)
    return {
        **md,
        "last-sequence-number": seq,
        "last-updated-ms": ts,
        "current-snapshot-id": snap_id,
        "snapshots": list(md.get("snapshots", [])) + [snap],
    }


def _new_table(
    base: str,
    fields: list[dict],
    *,
    uuid: str,
    partition_fields=(),
    format_version: int = 2,
    **extra,
) -> dict:
    """Metadata of an empty table at ``base``: schema 0 of ``fields``,
    partition spec 0 of ``partition_fields``, no snapshot yet.
    ``format_version`` is the one way to set the format version; ``extra``
    sets or overrides any other top-level field."""
    return {
        "format-version": format_version,
        "table-uuid": uuid,
        "location": "file://" + base,
        "last-sequence-number": 0,
        "last-updated-ms": 1700000000000,
        "last-column-id": max((f["id"] for f in fields), default=0),
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": list(fields)}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": list(partition_fields)}],
        "last-partition-id": max(
            (f["field-id"] for f in partition_fields), default=999
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "snapshots": [],
        **extra,
    }


def iceberg_append(
    spark: SparkSession, base: str, df: DataFrame, file_name: str
) -> int:
    """Append ``df`` to an Iceberg v2 table (creating it on first use):
    stage ONE data parquet, write its manifest (Avro) and a NEW manifest
    list reusing every previous snapshot's manifests, then commit by
    put-if-absent on ``v<N+1>.metadata.json`` — the atomic swap that IS
    Iceberg's optimistic concurrency. Appends never semantically
    conflict, so ``commit`` rebuilds the manifests and metadata on the
    fresh tip after a lost slot. Returns the committed metadata version.
    version-hint.text is advisory (last-writer-wins) per the spec —
    readers that miss the newest hint still read a CONSISTENT older
    snapshot."""
    # stage the data file (single parquet FILE, like the Delta writer)
    from .lakehouse_interop import _stage_single_parquet

    data_path = os.path.join(base, "data", file_name)
    os.makedirs(os.path.dirname(data_path), exist_ok=True)
    _stage_single_parquet(df, data_path)
    n_rows = df.count()

    def build(_cur_v: int, prev: dict | None) -> dict:
        md = prev or _new_table(
            base,
            _iceberg_fields_of(df.schema),
            uuid="0f1e2d3c-0000-4000-8000-00000000ffff",
        )
        seq, snap_id = _next_ids(md)
        m = _manifest(
            base, md, f"m-{snap_id}.avro",
            [_entry(base, file_name, 0, n_rows, seq=seq)], 0, snap_id, seq,
        )
        return _snapshot(base, md, _manifests(base, md) + [m], "append")

    return commit(base, build)


@query(
    "sink_iceberg_append",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_iceberg_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-commit Iceberg APPEND round-trip: write nation in two halves
    via iceberg_append (each commit = one staged parquet + one Avro
    manifest + a new manifest list carrying forward the previous
    snapshot's manifests + a put-if-absent v<N>.metadata.json — the
    atomic swap that IS Iceberg's optimistic concurrency), then read the
    result back through this module's own snapshot reader. The identity
    oracle certifies writer ∘ reader = identity over the REAL wire
    format; snapshot addressing to the first commit is pinned in tests,
    as is the conflict-retry path."""
    from ..catalog import load_table

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")

    base = built(sf_dir, "iceberg_sink", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ------------------------------------------ snapshots as a STREAMING source


def _iceberg_appended_files(base: str, after_seq: int, upto_seq: int) -> list[tuple]:
    """Per-file append plan for snapshots with after_seq <
    sequence-number <= upto_seq: (absolute data-file path, snapshot-id)
    tuples. METADATA only — manifest list + manifests, never a data
    file; the driver-side planning half of the snapshot stream tail."""
    meta = _load_metadata(base)
    snaps = sorted(
        (
            s
            for s in meta.get("snapshots", [])
            if after_seq < s["sequence-number"] <= upto_seq
        ),
        key=lambda s: s["sequence-number"],
    )
    plan: list[tuple] = []
    for s in snaps:
        _, manifests = read_container(_resolve_path(base, s["manifest-list"]))
        for m in manifests:
            if m.get("sequence_number") != s["sequence-number"]:
                continue  # carried-forward manifest from an older snapshot
            _, entries = read_container(_resolve_path(base, m["manifest_path"]))
            for e in entries:
                if e["status"] == 2 or e["data_file"].get("content", 0) != 0:
                    continue
                plan.append(
                    (
                        _resolve_path(base, e["data_file"]["file_path"]),
                        s["snapshot-id"],
                    )
                )
    return plan


def _latest_seq(base: str, _seen: int) -> int:
    """The newest snapshot sequence number: the Iceberg tails' latest
    offset."""
    seqs = [s["sequence-number"] for s in _load_metadata(base).get("snapshots", [])]
    return max(seqs) if seqs else 0


def _read_append_split(split):
    """Executor read of one appended data file, stamped with the
    snapshot that appended it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(split.path, columns=["n_nationkey", "n_name", "n_regionkey"])
    out = tbl.append_column(
        "snapshot_id", pa.array([split.snapshot_id] * tbl.num_rows, type=pa.int64())
    )
    return iter(out.to_batches())


def _make_iceberg_stream_datasource():
    """Offsets are {'seq': last-read sequence-number} — snapshots are
    immutable and sequence numbers only grow, so the split plan (one
    split per appended data file) replays any committed range exactly,
    the same argument as the Delta-CDF tail on Iceberg's snapshot
    lattice."""
    from ..streaming.tail import tail_source

    return tail_source(
        "iceberg_snapshot_tail",
        "n_nationkey int, n_name string, n_regionkey int, snapshot_id bigint",
        key="seq",
        initial=0,
        latest=_latest_seq,
        plan=_iceberg_appended_files,
        fields=("path", "snapshot_id"),
        read_partition=_read_append_split,
    )


@query(
    "stream_iceberg_snapshot_tail",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_nationkey < 12 THEN 1001 ELSE 1002 END AS snapshot_id
    FROM nation
    """,
)
def stream_iceberg_snapshot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAIL an Iceberg table's appends as a Structured Streaming source —
    the symmetric twin of stream_delta_cdf_tail on the snapshot lattice:
    offsets are SEQUENCE NUMBERS, each micro-batch drains the snapshots
    committed since the last, and carried-forward manifests (sequence <
    snapshot's) are skipped so rows are emitted exactly once. The table
    is built by this module's own iceberg_append writer (two commits),
    so the lane certifies writer → streaming-reader end to end; the
    oracle pins every row to the snapshot that appended it. Snapshot
    immutability makes the partition plan an exact replay — the
    recovery contract. The driver plans one split per appended data
    file from the manifests and EXECUTORS read them (Arrow batches), the
    shape that holds at 100 TB; the TaskContext guard in read() pins
    that no appended row transits the driver. This is how production
    engines stream FROM Iceberg (incremental append scan)."""

    def build(base: str) -> None:
        from ..catalog import load_table

        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")

    base = built(sf_dir, "iceberg_stream_sink", build)
    spark.dataSource.register(_make_iceberg_stream_datasource())
    stream = (
        spark.readStream.format("iceberg_snapshot_tail").option("path", base).load()
    )
    return drain_to_memory(spark, sf_dir, stream, "iceberg_tail")


def _build_iceberg_evo_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Schema-evolution fixture: snapshot 4001 writes 2-column files
    (n_nationkey, n_name) under schema-id 0; the table then evolves
    (ADD COLUMN n_regionkey — metadata v2 carries schema-id 1 and
    current-schema-id 1, NO data rewrite) and snapshot 4002 appends a
    file WITH the new column. Current reads surface typed NULLs for
    pre-evolution files — the instant-ADD-COLUMN contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    lo = pdf[pdf.n_nationkey < 12][["n_nationkey", "n_name"]]
    hi = pdf[pdf.n_nationkey >= 12]
    schema2 = pa.schema(
        [tbl.schema.field("n_nationkey"), tbl.schema.field("n_name")]
    )
    _write_parquet_file(schema2, lo, os.path.join(base, "data", "old.parquet"))
    _write_parquet_file(tbl.schema, hi, os.path.join(base, "data", "new.parquet"))
    md = _new_table(
        base,
        _NATION_ICEBERG_FIELDS[:2],
        uuid="0f1e2d3c-0000-4000-8000-00000000e01e",
    )
    m1 = _manifest(
        base, md, "m1.avro", [_entry(base, "old.parquet", 0, len(lo))], 0, 4001, 1
    )
    md = _snapshot(
        base, md, [m1], "append", snap_id=4001, seq=1, ts=1700000000000
    )
    # ADD COLUMN: a new schema entry; no data file is rewritten
    md = {
        **md,
        "last-column-id": 3,
        "current-schema-id": 1,
        "schemas": md["schemas"]
        + [{"type": "struct", "schema-id": 1, "fields": _NATION_ICEBERG_FIELDS}],
    }
    m2 = _manifest(
        base, md, "m2.avro", [_entry(base, "new.parquet", 0, len(hi))], 0, 4002, 2
    )
    md = _snapshot(
        base, md, [m1, m2], "append", snap_id=4002, seq=2, ts=1700000001000
    )
    commit(base, lambda _v, _prev: md)


@query(
    "scan_iceberg_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS n_regionkey
    FROM nation
    """,
)
def scan_iceberg_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN without rewriting a byte: the metadata carries BOTH
    schemas (schema-id 0 and 1) and current-schema-id picks the read
    schema — pre-evolution files (written under schema 0, physically
    2 columns) surface the new column as typed NULLs because the reader
    scans with the CURRENT schema explicitly (never footer-merge). The
    oracle NULLs n_regionkey exactly for the pre-evolution keys, so the
    hash certifies which files resolved through which physical shape —
    the design reason Iceberg column adds are instant at any size (the
    same contract scan_delta_schema_evolution pins for Delta)."""
    base = built(
        sf_dir, "iceberg_table_evo", partial(_build_iceberg_evo_fixture, spark, sf_dir)
    )
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ------------------------------------------------- maintenance + AS OF ts


def iceberg_snapshot_as_of(
    spark: SparkSession, base: str, ts_ms: int
) -> DataFrame:
    """TIMESTAMP AS OF: the latest snapshot whose commit time is ≤ ts_ms
    (the SQL `FOR TIMESTAMP AS OF` contract) — pure metadata addressing
    over the snapshot list, then the ordinary snapshot read."""
    meta = _load_metadata(base)
    eligible = [
        s for s in meta.get("snapshots", []) if s["timestamp-ms"] <= ts_ms
    ]
    if not eligible:
        raise ValueError(
            f"no Iceberg snapshot at or before timestamp {ts_ms} "
            f"(earliest is {min(s['timestamp-ms'] for s in meta.get('snapshots', []))})"
        )
    snap = max(eligible, key=lambda s: s["timestamp-ms"])
    return iceberg_snapshot(spark, base, snapshot_id=snap["snapshot-id"])


def iceberg_expire_snapshots(
    spark: SparkSession, base: str, keep_from_seq: int
) -> tuple[list[str], list[str]]:
    """EXPIRE SNAPSHOTS: commit a new metadata version whose snapshot
    list keeps only sequence-number ≥ keep_from_seq, then delete the
    data and manifest files referenced ONLY by expired snapshots —
    never a file any RETAINED snapshot still plans (the same
    union-of-live-sets safety contract as delta_vacuum). Time travel to
    expired snapshots then fails LOUDLY at snapshot resolution (the id
    is gone from metadata), not silently with wrong data. The commit is
    read-dependent: a concurrent commit aborts it before any file is
    deleted. Returns (deleted, kept) relative paths."""
    read_v, meta = _tip(os.path.join(base, "metadata"))
    keep = [
        s for s in meta["snapshots"] if s["sequence-number"] >= keep_from_seq
    ]
    if not keep:
        raise ValueError("expire would remove every snapshot")
    expired = [
        s for s in meta["snapshots"] if s["sequence-number"] < keep_from_seq
    ]

    def _files_of(snap) -> set[str]:
        out = set()
        ml = _resolve_path(base, snap["manifest-list"])
        out.add(os.path.relpath(ml, base))
        _, manifests = read_container(ml)
        for m in manifests:
            mp = _resolve_path(base, m["manifest_path"])
            out.add(os.path.relpath(mp, base))
            _, entries = read_container(mp)
            for e in entries:
                if e["status"] == 2:
                    continue
                out.add(
                    os.path.relpath(
                        _resolve_path(base, e["data_file"]["file_path"]), base
                    )
                )
        return out

    referenced: set[str] = set()
    for s in keep:
        referenced |= _files_of(s)
    candidates: set[str] = set()
    for s in expired:
        candidates |= _files_of(s)
    md = dict(meta)
    md["snapshots"] = keep
    if md.get("current-snapshot-id") not in {s["snapshot-id"] for s in keep}:
        md["current-snapshot-id"] = max(
            keep, key=lambda s: s["sequence-number"]
        )["snapshot-id"]
    commit(base, lambda _v, _prev: md, read_v)
    deleted = sorted(candidates - referenced)
    for rel in deleted:
        p = os.path.join(base, rel)
        if os.path.exists(p):
            os.remove(p)
    return deleted, sorted(referenced)


@query(
    "scan_iceberg_time_travel_ts",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_iceberg_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOR TIMESTAMP AS OF: addressing the snapshot list by commit time —
    a timestamp between the append (1001) and the delete (1002) resolves
    to 1001, so the read returns FULL nation while the current snapshot
    hides five keys. Same pure-metadata resolution as snapshot-id time
    travel; timestamps before the first snapshot raise (pinned)."""
    base = built(
        sf_dir, "iceberg_table", partial(_build_iceberg_fixture, spark, sf_dir)
    )
    return iceberg_snapshot_as_of(spark, base, 1700000000500).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ----------------------------------------------- DELETE via position deletes


def iceberg_delete_where(spark: SparkSession, base: str, predicate: str) -> int:
    """``DELETE FROM <table> WHERE predicate`` emitted as an Iceberg v2
    POSITION-DELETE file (the write half of the position-delete reader,
    mirroring the Delta DV writer): one distributed probe of the
    current snapshot with the predicate PUSHED to parquet finds the
    matching (file_path, pos) pairs; rows already deleted by existing
    position deletes are excluded; the survivors are written as ONE
    delete parquet sorted by (file_path, pos) — the spec's required
    ordering — named by a DELETE manifest (content=1) at the next
    sequence number, and committed read-dependent (``commit`` with the
    planned metadata version): a concurrent commit aborts the delete
    rather than dropping the rival's changes. The sequence gate the
    reader enforces (pos delete applies to files with seq <= delete's)
    holds by construction: the new delete's seq exceeds every current
    data file's.

    Driver-side work is bounded by THIS delete's matched rows (the data
    a position-delete writer must materialize to write the file) plus
    metadata. Returns the committed metadata version."""
    read_v, prev = _tip(os.path.join(base, "metadata"))
    schema, data_entries, pos_deletes, _eq = iceberg_state(
        base, snapshot_id=prev["current-snapshot-id"]
    )
    if not data_entries:
        raise ValueError(f"nothing to delete: no data files under {base}")
    probe = (
        spark.read.schema(schema)
        .parquet(*[d["path"] for d in data_entries])
        .where(predicate)
        .select(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
                "fp"
            ),
            F.col("_metadata.row_index").alias("pos"),
        )
    )
    matched = {(r["fp"], int(r["pos"])) for r in probe.collect()}
    already: set[tuple[str, int]] = set()
    pq_dels = [d for d in pos_deletes if d.get("format") != "puffin"]
    dv_dels = [d for d in pos_deletes if d.get("format") == "puffin"]
    if pq_dels:
        for r in (
            spark.read.parquet(*[d["path"] for d in pq_dels])
            .select(
                F.regexp_replace(F.col("file_path"), "^file:/+", "/").alias("fp"),
                "pos",
            )
            .collect()
        ):
            already.add((r["fp"], int(r["pos"])))
    if dv_dels:
        from ..functions.puffin import deserialize_dv_blob, read_blob

        for d in dv_dels:
            for p in deserialize_dv_blob(read_blob(d["path"], d["offset"], d["size"])):
                already.add((d["referenced"], int(p)))
    new = sorted(matched - already)
    if not new:
        return read_v

    import pandas as pd
    import pyarrow as pa

    seq, snap_id = _next_ids(prev)
    del_rel = f"del-pos-{seq}.parquet"
    del_pdf = pd.DataFrame(
        {
            "file_path": ["file://" + fp for fp, _ in new],
            "pos": [p for _, p in new],
        }
    )
    del_schema = pa.schema(
        [pa.field("file_path", pa.string()), pa.field("pos", pa.int64())]
    )
    _write_parquet_file(del_schema, del_pdf, os.path.join(base, "data", del_rel))
    m = _manifest(
        base, prev, f"m-del-{snap_id}.avro",
        [_entry(base, del_rel, 1, len(new), seq=seq)], 1, snap_id, seq,
    )
    md = _snapshot(base, prev, _manifests(base, prev) + [m], "delete")
    return commit(base, lambda _v, _prev: md, read_v)


@query(
    "sink_iceberg_pos_delete",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE NOT (n_nationkey % 3 = 0) AND n_nationkey != 7
    """,
)
def sink_iceberg_pos_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg DELETE round-trip (the twin of delta_delete_dv_roundtrip):
    DELETE twice through ``iceberg_delete_where`` on the append-writer's
    table (first every key ≡ 0 mod 3, then key 7 — the second delete
    probes a snapshot that already carries position deletes, so the
    already-deleted exclusion path runs), then read back through this
    module's own snapshot reader. Time travel to the pre-delete snapshot
    still answers the full table (pinned in tests)."""
    from ..catalog import load_table

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        iceberg_delete_where(spark, base, "n_nationkey % 3 = 0")
        iceberg_delete_where(spark, base, "n_nationkey = 7")

    base = built(sf_dir, "iceberg_sink_del", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# --------------------------------------------- v3 deletion vectors (Puffin)

def iceberg_delete_dv(spark: SparkSession, base: str, predicate: str) -> int:
    """``DELETE ... WHERE predicate`` emitted as spec-v3 DELETION VECTORS:
    matched row positions are grouped per data file, each file's
    positions (unioned with any EXISTING DV for that file, so the newest
    DV stays self-contained — the spec's one-DV-per-file intent) are
    serialized as one ``deletion-vector-v1`` blob, all blobs ride ONE
    Puffin file, and the commit adds a delete manifest whose entries
    carry ``file_format: PUFFIN`` + (referenced_data_file,
    content_offset, content_size_in_bytes). No data file is rewritten.
    Returns the committed metadata version.

    Scale: the probe is one distributed predicate-pushed scan; the
    driver materializes exactly this delete's matched positions (the
    bitmaps a DV writer must serialize — KBs per file), and the commit
    is read-dependent (``commit`` with the planned metadata version): a
    concurrent commit aborts it."""
    from ..functions.puffin import (
        DELETION_VECTOR_V1,
        deserialize_dv_blob,
        read_blob,
        serialize_dv_blob,
    )

    read_v, prev = _tip(os.path.join(base, "metadata"))
    schema, data_entries, pos_deletes, _eq = iceberg_state(
        base, snapshot_id=prev["current-snapshot-id"]
    )
    if not data_entries:
        raise ValueError(f"nothing to delete: no data files under {base}")
    probe = (
        spark.read.schema(schema)
        .parquet(*[d["path"] for d in data_entries])
        .where(predicate)
        .select(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
                "fp"
            ),
            F.col("_metadata.row_index").alias("pos"),
        )
    )
    by_file: dict[str, set[int]] = {}
    for r in probe.collect():
        by_file.setdefault(r["fp"], set()).add(int(r["pos"]))
    # existing DV positions per referenced file (for merge + no-op check)
    existing: dict[str, set[int]] = {}
    for d in pos_deletes:
        if d.get("format") == "puffin":
            existing.setdefault(d["referenced"], set()).update(
                deserialize_dv_blob(read_blob(d["path"], d["offset"], d["size"]))
            )
    new_files = {
        fp: pos
        for fp, pos in by_file.items()
        if pos - existing.get(fp, set())
    }

    if not new_files:
        return read_v

    from ..functions.puffin import write_puffin

    seq, snap_id = _next_ids(prev)
    puffin_rel = f"dv-{seq}.puffin"
    refs = sorted(new_files)
    merged = {fp: sorted(new_files[fp] | existing.get(fp, set())) for fp in refs}
    blobs = [
        {
            "type": DELETION_VECTOR_V1,
            "payload": serialize_dv_blob(merged[fp]),
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "properties": {
                "referenced-data-file": "file://" + fp,
                "cardinality": str(len(merged[fp])),
            },
        }
        for fp in refs
    ]
    metas = write_puffin(os.path.join(base, "data", puffin_rel), blobs)
    entries = [
        _entry(
            base, puffin_rel, 1, len(merged[fp]), seq=seq,
            file_format="PUFFIN",
            referenced_data_file="file://" + fp,
            content_offset=bm["offset"],
            content_size_in_bytes=bm["length"],
        )
        for fp, bm in zip(refs, metas)
    ]
    md = {**prev, "format-version": 3}  # DVs are a v3 feature
    m = _manifest(base, md, f"m-dv-{snap_id}.avro", entries, 1, snap_id, seq)
    md = _snapshot(base, md, _manifests(base, md) + [m], "delete")
    return commit(base, lambda _v, _prev: md, read_v)


@query(
    "iceberg_dv_delete_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE NOT (n_nationkey % 3 = 0) AND n_nationkey != 7
    """,
)
def iceberg_dv_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 DELETION-VECTOR round-trip: DELETE twice through
    ``iceberg_delete_dv`` (the second delete lands on a data file that
    ALREADY carries a DV, exercising the merge-into-self-contained-blob
    path), then read back through this
    module's snapshot reader — which fetches each blob by the manifest's
    (referenced_data_file, content_offset, content_size_in_bytes)
    triple, CRC-checks it, and applies the positions in the SAME
    (file, row_index) anti-join as parquet position deletes. The
    identity oracle certifies writer→puffin→manifest→bitmap→anti-join
    end to end; the Puffin container and blob wire bytes carry
    spec-example pins in tests.

    Scale: a DV is KBs of metadata per data file where a position-delete
    parquet costs a distributed scan per read — which is exactly why v3
    replaced position deletes with DVs; the apply stays one broadcast
    anti-join either way."""
    from ..catalog import load_table

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        iceberg_delete_dv(spark, base, "n_nationkey % 3 = 0")
        iceberg_delete_dv(spark, base, "n_nationkey = 7")

    base = built(sf_dir, "iceberg_sink_dv", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# --------------------------------------------- metadata tables + compaction


def iceberg_snapshots_meta(spark: SparkSession, base: str) -> DataFrame:
    """The ``<table>.snapshots`` METADATA TABLE every Iceberg catalog
    exposes: one row per snapshot from metadata.json — pure driver-side
    metadata (O(snapshots) rows), surfaced as an ordinary DataFrame so
    table-history questions ("what changed? when? by which operation?")
    run through the same engine as data queries."""
    meta = _load_metadata(base)
    rows = [
        (
            int(s["snapshot-id"]),
            int(s["sequence-number"]),
            int(s["timestamp-ms"]),
            s.get("summary", {}).get("operation"),
            s["snapshot-id"] == meta.get("current-snapshot-id"),
        )
        for s in meta.get("snapshots", [])
    ]
    return spark.createDataFrame(
        sorted(rows),
        "snapshot_id bigint, sequence_number bigint, committed_at_ms bigint, "
        "operation string, is_current boolean",
    )


def iceberg_files_meta(spark: SparkSession, base: str) -> DataFrame:
    """The ``<table>.files`` metadata table: one row per live file in the
    CURRENT snapshot (content 0/1/2 = data / position deletes / equality
    deletes) with its record count and data sequence number — the view
    compaction planners and debuggers read. Manifest-resolution reuses
    iceberg_state; O(files) rows."""
    schema, data_files, pos_deletes, eq_deletes = iceberg_state(base)
    rows = (
        [(os.path.basename(d["path"]), 0, int(d["seq"])) for d in data_files]
        + [(os.path.basename(d["path"]), 1, int(d["seq"])) for d in pos_deletes]
        + [(os.path.basename(d["path"]), 2, int(d["seq"])) for d in eq_deletes]
    )
    return spark.createDataFrame(
        sorted(rows), "file_name string, content int, sequence_number bigint"
    )


@query(
    "scan_iceberg_snapshots_meta",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1001 AS BIGINT), CAST(1 AS BIGINT), CAST(1700000000000 AS BIGINT),
       'append', false),
      (CAST(1002 AS BIGINT), CAST(2 AS BIGINT), CAST(1700000001000 AS BIGINT),
       'delete', true)
    ) t(snapshot_id, sequence_number, committed_at_ms, operation, is_current)
    """,
)
def scan_iceberg_snapshots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.snapshots` over the two-snapshot fixture — the history every
    Iceberg user queries before a time travel. The oracle pins the exact
    metadata rows (ids, sequence numbers, commit times, operations,
    currency flag), so any drift in snapshot bookkeeping breaks the
    hash, not just a test."""
    base = built(
        sf_dir, "iceberg_table", partial(_build_iceberg_fixture, spark, sf_dir)
    )
    return iceberg_snapshots_meta(spark, base)


@query(
    "scan_iceberg_files_meta",
    oracle="""
    SELECT * FROM (VALUES
      ('delete-0.parquet', 1, CAST(2 AS BIGINT)),
      ('part-hi.parquet', 0, CAST(1 AS BIGINT)),
      ('part-lo.parquet', 0, CAST(1 AS BIGINT))
    ) t(file_name, content, sequence_number)
    """,
)
def scan_iceberg_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.files` over the fixture's current snapshot: two data files at
    sequence 1 plus the position-delete file at sequence 2 — the
    manifest-resolved inventory a compaction planner reads (content
    codes 0/1/2 per the spec)."""
    base = built(
        sf_dir, "iceberg_table", partial(_build_iceberg_fixture, spark, sf_dir)
    )
    return iceberg_files_meta(spark, base)


def iceberg_rewrite_compact(spark: SparkSession, base: str) -> int:
    """REWRITE (compaction): read the current snapshot MERGED (row-level
    deletes applied), stage it as ONE data file, and commit a REPLACE
    snapshot whose manifest list names only the new manifest — the old
    files drop by omission, history keeps them time-travelable. The
    rewritten file takes the new sequence number; with the deletes FOLDED
    IN at rewrite time that is spec-correct (nothing older may re-apply:
    position deletes gate on seq <= delete's, equality on seq <, and the
    new file's seq exceeds both). The commit is read-dependent: a
    concurrent commit aborts the rewrite. Returns the committed version."""
    from .lakehouse_interop import _stage_single_parquet

    read_v, prev = _tip(os.path.join(base, "metadata"))
    merged = iceberg_snapshot(spark, base, snapshot_id=prev["current-snapshot-id"])
    seq, snap_id = _next_ids(prev)
    file_rel = f"compacted-{seq}.parquet"
    _stage_single_parquet(merged, os.path.join(base, "data", file_rel))
    n_rows = merged.count()
    m = _manifest(
        base, prev, f"m-compact-{snap_id}.avro",
        [_entry(base, file_rel, 0, n_rows, seq=seq)], 0, snap_id, seq,
    )
    md = _snapshot(base, prev, [m], "replace")
    return commit(base, lambda _v, _prev: md, read_v)


@query(
    "iceberg_compact_rewrite",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE NOT (n_nationkey % 3 = 0) AND n_nationkey != 7
    """,
)
def iceberg_compact_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION round-trip on the delete-carrying table: rewrite folds
    the position deletes into one clean data file under a REPLACE
    snapshot; the read-back must equal the pre-compaction merged state
    (the identity every rewrite job must preserve), the `.files` table
    collapses to the single compacted file, and the pre-compaction
    snapshot stays time-travelable (pinned in tests)."""
    from ..catalog import load_table

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        iceberg_delete_where(spark, base, "n_nationkey % 3 = 0")
        iceberg_delete_where(spark, base, "n_nationkey = 7")
        iceberg_rewrite_compact(spark, base)

    base = built(sf_dir, "iceberg_sink_compact", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ------------------------------------------------- equality-delete writer


_PA_OF_ICEBERG = {"int": "int32", "long": "int64", "string": "string",
                  "double": "float64", "boolean": "bool"}


def iceberg_eq_delete(
    spark: SparkSession, base: str, column: str, values: list
) -> int:
    """``DELETE FROM <table> WHERE column IN (values)`` emitted as an
    Iceberg v2 EQUALITY-DELETE file (the write half of the eq-delete
    reader; completes writer symmetry for both
    delete encodings next to ``iceberg_delete_where``'s position
    deletes). The delete parquet carries ONLY the equality column; its
    manifest entry (content=2) names the column by FIELD ID
    (equality_ids), and the new snapshot's sequence number exceeds every
    current data file's — so the reader's strict gate (file seq <
    delete seq) applies it to all current data while rows appended
    AFTER the delete survive, which is exactly how an eq-delete writer
    expresses "delete by value as of now" without reading one data row.

    That no-data-read property is the 100-TB point: a position-delete
    writer must probe the table to find row positions; an equality
    delete is O(|values|) metadata regardless of table size — the
    engine-side trade both real writers (Flink CDC, Spark MERGE) make.
    Returns the committed metadata version."""
    import pandas as pd
    import pyarrow as pa

    vals = sorted(set(values))

    def build(_cur_v: int, prev: dict) -> dict:
        fields = _current_schema(prev)
        fid = next((f["id"] for f in fields if f["name"] == column), None)
        if fid is None:
            raise ValueError(f"no column {column!r} in the current schema")
        ftype = next(f["type"] for f in fields if f["name"] == column)
        if ftype not in _PA_OF_ICEBERG:
            raise NotImplementedError(f"eq-delete on {ftype!r} column")
        seq, snap_id = _next_ids(prev)
        del_rel = f"del-eq-{seq}.parquet"
        _write_parquet_file(
            pa.schema([pa.field(column, pa.type_for_alias(_PA_OF_ICEBERG[ftype]))]),
            pd.DataFrame({column: vals}),
            os.path.join(base, "data", del_rel),
        )
        m = _manifest(
            base, prev, f"m-eqdel-{snap_id}.avro",
            [_entry(base, del_rel, 2, len(vals), seq=seq, equality_ids=[fid])],
            1, snap_id, seq,
        )
        return _snapshot(base, prev, _manifests(base, prev) + [m], "delete")

    return commit(base, build)


@query(
    "sink_iceberg_eq_delete",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_name <> 'NATION_15'
    """,
)
def sink_iceberg_eq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete round-trip: append lo+hi (sequences 1, 2), delete
    ``n_name IN ('NATION_3', 'NATION_15')`` by VALUE at sequence 3
    (touching zero data rows — the writer is metadata-only), then
    RE-APPEND the NATION_3 row at sequence 4: the strict sequence gate
    must delete both originals and let the re-insert survive, so the
    snapshot is nation minus NATION_15. Time travel to the pre-delete
    snapshot still answers the full table (pinned in tests)."""
    from ..catalog import load_table

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        iceberg_eq_delete(
            spark, base, "n_name", ["NATION_3", "NATION_15"]
        )
        iceberg_append(
            spark, base, n.filter("n_name = 'NATION_3'"), "a2.parquet"
        )

    base = built(sf_dir, "iceberg_sink_eqdel", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
