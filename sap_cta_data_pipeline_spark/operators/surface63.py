"""§2 round-12 batch GM — Iceberg keyed MERGE (CoW) + CDC apply.

The last functional hole in the tri-format DML story (round-11 verdict
missing #1): Delta has ``delta_merge_into`` (delete branch, schema
evolution, CDF emission) and Hudi has ``hudi_cow_upsert``, but Iceberg
had only append / delete / compact. ``iceberg_merge_into`` is the
Iceberg member of the family::

    MERGE INTO target USING source ON target.on = source.on
    WHEN MATCHED AND delete_col THEN DELETE
    WHEN MATCHED THEN UPDATE SET update_cols
    WHEN NOT MATCHED THEN INSERT *

as ONE snapshot commit, copy-on-write. Shape mirrors delta_dml.py's
MERGE exactly:

1. the live set is tagged with (file, position) through the same
   seq-gated delete application the snapshot reader uses (surface54's
   ``_live_rows`` — position deletes and v3 DVs honored per file);
2. matched files are a semi-join of tagged live rows against source
   keys — DISTINCT PATHS only reach the driver (file-count bounded);
3. each matched file is rewritten (source wins on ``update_cols``
   where the key matches, match-gated ``when`` — an explicit source
   NULL SETS NULL exactly as SQL MERGE does; flagged matches drop);
   a rewrite emptied by the delete branch commits remove-only — no
   zero-row parquet (the round-11 Delta advice, applied here from
   birth);
4. not-matched unflagged source rows land in ONE fresh insert file;
5. the commit is ONE metadata swap: affected manifests are REWRITTEN
   in place of their originals (removed files as status-2 DELETED
   entries, carried files as status-0 EXISTING — original schema and
   manifest-level sequence numbers preserved, so inherited entry
   sequences stay correct), untouched manifests are carried by
   POINTER, and the new data files ride one content=0 manifest at the
   new sequence number. A concurrent commit between planning and the
   put-if-absent swap ABORTS (the Delta read-set-validation
   discipline — a MERGE planned against a stale live set must never
   publish).

A changelog consumer sees the rewrite as DELETE(old live rows) +
INSERT(new rows) — pinned through batch GA's ``iceberg_changelog``.

Refusals, house style: duplicate source keys (Iceberg's
MERGE-cardinality check: one target row must match at most one source
row); equality deletes in the current state (their strictly-smaller-
sequence application cannot be carried through a tagged rewrite —
same refusal as the changelog); NON-IDENTITY partition transforms
(bucket/truncate/days/... would need transform re-evaluation to route
rows — identity-partitioned tables are claimed since batch GS,
surface69.py, with partition columns refused in ``update_cols``
exactly as the Delta twin refuses partition-column updates).

``iceberg_merge_cdc_apply`` closes batch GJ's replication loop in the
OTHER direction: a Delta CDF window (the delta_cdf_write fixture's
update + delete commits) nets to one per-key feed (latest-wins rank,
the cdc_latest_by_key shape) and lands on an Iceberg target through
one MERGE with the delete branch — cross-format CDC both ways.

Scale: matched-file discovery is one column-pruned semi-join over the
live set (the scan reads the merge key column, Catalyst prunes the
rest); rewrites are bounded by the files the changed keys live in;
the insert is one file; commit cost is metadata only. A 100 TB target
absorbing a 1 GB window rewrites the touched files and nothing else.
"""

from __future__ import annotations

import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .iceberg_reader import (
    _current_schema,
    _entry,
    _iceberg_fields_of,
    _manifest,
    _manifests,
    _next_ids,
    _resolve_path,
    _snapshot,
    _tip,
    commit as iceberg_commit,
    iceberg_append,
    iceberg_snapshot,
    iceberg_state,
)
from .sources import built
from .surface54 import _delete_key, _live_rows

from ..functions.avro_codec import read_container, write_container


def _partition_info(
    meta: dict, who: str
) -> tuple[list[str], dict, list[dict]]:
    """Resolve the default partition spec into ``(source column names,
    spec, pfields)`` where each pfield is ``{"pname": partition field
    name, "src": source column, "transform": transform string}``.

    Batch GS claimed identity transforms; batch GU extends DML to the
    value transforms functions/transforms.py claims (year/month/day/
    hour, truncate[W], bucket[N]) — a CoW rewrite still transports each
    file's partition record VERBATIM (no row can change partition when
    the transform's SOURCE columns are refused in update_cols/SET), and
    insert routing re-evaluates the transform per row. An unclaimed
    transform refuses here, at resolve time, in house style."""
    from ..functions.transforms import result_iceberg_type

    spec = next(
        (
            s
            for s in meta.get("partition-specs", [])
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"fields": []},
    )
    name_of_id = {f["id"]: f["name"] for f in _current_schema(meta)}
    pfields = []
    for f in spec.get("fields", []):
        tr = f.get("transform", "identity")
        try:
            result_iceberg_type(tr, "string")  # claim check only
        except NotImplementedError:
            raise NotImplementedError(
                f"{who}: partition transform {tr!r} is not claimed — "
                "routing rewritten and inserted rows needs an exact "
                "transform evaluation; unpartition or use append+delete"
            ) from None
        pfields.append(
            {
                "pname": f["name"],
                "src": name_of_id[f["source-id"]],
                "transform": tr,
                "field-id": f["field-id"],
            }
        )
    part_cols = [pf["src"] for pf in pfields]
    return part_cols, spec, pfields


def iceberg_merge_plan(
    spark: SparkSession,
    base: str,
    source: DataFrame,
    on: str,
    partition_filter: dict | None = None,
) -> dict:
    """Planning half of the MERGE: validate the table + source, tag the
    live set, and resolve the matched-file set (paths only to the
    driver). Returned dict feeds ``iceberg_merge_into``; the plan pin
    asserts ``matched_paths`` is exactly the set of files the rewrite
    touches.

    ``partition_filter`` (identity partition column -> value) prunes
    the CANDIDATE file set driver-side from pure manifest metadata
    before any data is scanned — the Iceberg way to price a keyed MERGE
    on a partitioned table by the touched partitions, not the table.
    The caller (``iceberg_merge_into``) validates that every source row
    lands inside the filter; an unvalidated filter would silently turn
    out-of-filter matches into duplicate inserts (lost updates)."""
    read_version, meta = _tip(os.path.join(base, "metadata"))
    part_cols, _spec, pfields = _partition_info(meta, "iceberg_merge_into")
    pnames = [pf["pname"] for pf in pfields]
    if partition_filter:
        unknown = sorted(set(partition_filter) - set(pnames))
        if unknown:
            raise ValueError(
                f"partition_filter names non-partition fields {unknown}; "
                f"partition fields are {pnames} (values are TRANSFORMED "
                "partition values, e.g. epoch days for a day transform)"
            )
    schema, data_files, pos_dels, eq_dels = iceberg_state(
        base,
        snapshot_id=meta["current-snapshot-id"],
        partition_filter=partition_filter,
    )
    if eq_dels:
        raise ValueError(
            "MERGE over equality deletes is not supported — their "
            "strictly-smaller-sequence application cannot be carried "
            "through the tagged copy-on-write rewrite; compact the "
            "table first"
        )
    cols = [f.name for f in schema.fields]
    if on not in cols:
        raise ValueError(f"merge key {on!r} is not a target column")
    dels_map = {_delete_key(d): d for d in pos_dels}
    pieces = _live_rows(spark, schema, data_files, dels_map)
    live = pieces[0] if pieces else None
    for extra in pieces[1:]:
        live = live.unionByName(extra)
    matched_paths: list[str] = []
    if live is not None:
        matched_paths = sorted(
            r["__fp"]
            for r in live.join(
                source.select(on).distinct(), on, "left_semi"
            )
            .select("__fp")
            .distinct()
            .collect()
        )
    return {
        "meta": meta,
        "schema": schema,
        "cols": cols,
        "live": live,
        "matched_paths": matched_paths,
        "part_cols": part_cols,
        "pfields": pfields,
        # candidate set (post-filter) + per-path partition records: the
        # partition-prune plan pin reads candidate_paths; rewrites
        # re-emit part_of[path] verbatim
        "candidate_paths": sorted(f["path"] for f in data_files),
        "part_of": {
            f["path"]: f.get("partition") or {} for f in data_files
        },
        "read_version": read_version,
    }


def iceberg_merge_into(
    spark: SparkSession,
    base: str,
    source: DataFrame,
    on: str,
    update_cols: list[str],
    delete_col: str | None = None,
    schema_evolution: bool = False,
    partition_filter: dict | None = None,
) -> tuple[int, int, int]:
    """Keyed CoW MERGE into an Iceberg v2 table (module docstring has
    the full contract). Returns (metadata version, files rewritten,
    rows inserted).

    ``schema_evolution=True`` is MERGE WITH SCHEMA EVOLUTION (round-12
    batch GQ, the Iceberg twin of delta_merge_schema_evolution): NEW
    source columns evolve the schema additively — fresh field ids from
    last-column-id, exactly surface59's append-evolution rule — in the
    SAME metadata swap as the merge snapshot (one atomic version).
    Rewritten matched files carry the new columns (source value where
    the key matches, NULL elsewhere); untouched files predate the
    column and the reader serves typed NULLs. Off by default: without
    the flag, extra source columns refuse exactly as before.

    ``partition_filter`` SAFETY CONTRACT (round-13 advice): the guard
    below validates that every SOURCE row transforms into the filter —
    it cannot see a matched TARGET row living in a DIFFERENT partition
    (partition columns are not updatable here, so a key's target
    partition can legitimately differ from the source row's partition
    value). Such a match is pruned from planning and the key re-inserts
    into the filter partition: duplicate key + stale surviving row.
    Pass partition_filter ONLY when the merge key functionally
    determines the partition value (the usual layout: partition derived
    from the key, e.g. bucket(key) or a key-prefix date); under any
    other layout run the unfiltered MERGE."""
    from .lakehouse_interop import _stage_single_parquet

    plan = iceberg_merge_plan(
        spark, base, source, on, partition_filter=partition_filter
    )
    schema, cols, live = plan["schema"], plan["cols"], plan["live"]
    part_cols = plan["part_cols"]
    bad_upd = sorted(set(update_cols) & set(part_cols))
    if bad_upd:
        raise ValueError(
            f"MERGE cannot update partition columns {bad_upd}: a "
            "copy-on-write file rewrite keeps every row in its file's "
            "partition; delete + insert to move rows"
        )
    if partition_filter:
        # lost-update guard: a source row OUTSIDE the filter would have
        # its target match pruned away and re-insert as a duplicate key.
        # One bounded aggregate over the (change-sized) source — each
        # filter value compared against the TRANSFORMED source value
        # (identity: the column itself; day/bucket/truncate: the
        # re-evaluated partition value).
        import functools as _ft

        from ..functions.transforms import transform_expr

        pf_of = {pf["pname"]: pf for pf in plan["pfields"]}
        src_type = {f.name: f.dataType for f in source.schema.fields}
        outside = _ft.reduce(
            lambda a, b: a | b,
            [
                (lambda e: e.isNull() | (e != F.lit(v)))(
                    transform_expr(
                        pf_of[k]["transform"],
                        pf_of[k]["src"],
                        src_type[pf_of[k]["src"]],
                    )
                )
                for k, v in partition_filter.items()
            ],
        )
        if source.filter(outside).limit(1).count() > 0:
            raise ValueError(
                f"MERGE source has rows outside partition_filter "
                f"{partition_filter}: matches there were pruned from "
                "planning and would re-insert as duplicates; widen the "
                "filter or drop it"
            )
    src_data_cols = set(source.columns) - (
        {delete_col} if delete_col is not None else set()
    )
    if delete_col is not None and delete_col not in source.columns:
        raise ValueError(f"delete_col {delete_col!r} is not a source column")
    new_fields: list[dict] = []
    if schema_evolution:
        if not set(cols) <= src_data_cols:
            raise ValueError(
                f"MERGE source is missing target columns "
                f"{sorted(set(cols) - src_data_cols)}: evolution is "
                "additive — INSERT * still needs every declared column"
            )
        declared = {f["name"]: f for f in _current_schema(plan["meta"])}
        last_col = plan["meta"].get("last-column-id", len(declared))
        for ff in _iceberg_fields_of(source.schema):
            if ff["name"] == delete_col or ff["name"] in declared:
                continue
            last_col += 1
            new_fields.append(
                {
                    "id": last_col,  # fresh id — never reuse a dropped one
                    "name": ff["name"],
                    "required": False,
                    "type": ff["type"],
                }
            )
        plan["evolved_last_col"] = last_col
    elif src_data_cols != set(cols):
        raise ValueError(
            f"source columns {sorted(src_data_cols)} must equal target "
            f"columns {sorted(cols)} for INSERT *"
        )
    new_names = [f["name"] for f in new_fields]
    cols = cols + new_names
    if on in update_cols:
        raise ValueError(f"merge key {on!r} must be a non-updated column")
    cdc_flag = (
        F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    src = source.select(*cols, cdc_flag.alias("__cdc_del"))
    # Iceberg's MERGE cardinality check (same rule as Delta's
    # DELTA_MULTIPLE_SOURCE_ROW_MATCHING): each target row matches at
    # most one source row — a duplicate-keyed source would silently
    # multiply matched rows in the rewrite's left join.
    if src.groupBy(on).count().filter("count > 1").limit(1).count() > 0:
        raise ValueError(
            f"MERGE source has duplicate rows on merge key {on!r}: each "
            "target row must match at most one source row"
        )
    type_of = {f.name: f.dataType for f in schema.fields}
    for nf in new_names:  # evolved columns type from the source frame
        type_of[nf] = source.schema[nf].dataType
    src_upd = src.select(
        F.col(on),
        F.lit(True).alias("__matched"),
        F.col("__cdc_del").alias("__del"),
        # evolved columns always transport source-side (matched rows
        # take the source value whether or not they are in update_cols)
        *[
            F.col(c).alias(f"__src_{c}")
            for c in dict.fromkeys([*update_cols, *new_names])
        ],
    )
    uid = _uuid.uuid4().hex[:12]
    # (rel under data/, row count, partition record)
    new_files: list[tuple[str, int, dict]] = []
    removed_paths = set(plan["matched_paths"])
    import pyarrow.parquet as _pq

    for i, fp in enumerate(plan["matched_paths"]):
        rows = live.filter(F.col("__fp") == fp).drop("__fp", "__pos")
        joined = rows.join(src_upd, on, "left")
        joined = joined.filter(
            ~(
                F.coalesce(F.col("__matched"), F.lit(False))
                & F.coalesce(F.col("__del"), F.lit(False))
            )
        )
        rewritten = joined.select(
            *[
                (
                    F.when(
                        F.coalesce(F.col("__matched"), F.lit(False)),
                        F.col(f"__src_{c}"),
                    )
                    # evolved columns do not exist on base rows: the
                    # unmatched branch is a typed NULL, not a column ref
                    .otherwise(
                        F.lit(None) if c in new_names else F.col(c)
                    )
                    .cast(type_of[c])
                    .alias(c)
                    if c in update_cols or c in new_names
                    else F.col(c)
                )
                for c in cols
            ]
        )
        rel = f"mrg-{uid}-{i}.parquet"
        abs_path = os.path.join(base, "data", rel)
        _stage_single_parquet(rewritten, abs_path)
        n = _pq.ParquetFile(abs_path).metadata.num_rows
        if n == 0:
            # pure-delete rewrite: remove-only, never a zero-row re-add
            os.remove(abs_path)
            continue
        # a CoW rewrite keeps rows in their file's partition (partition
        # columns are refused in update_cols) — the record rides verbatim
        new_files.append((rel, n, plan["part_of"][fp]))
    n_rewritten = len(removed_paths)
    # not-matched unflagged source rows → fresh insert files: ONE for an
    # unpartitioned table, one PER TOUCHED PARTITION otherwise (each
    # manifest entry needs its typed partition record for file skipping)
    inserts = src.filter(~F.col("__cdc_del")).drop("__cdc_del")
    if live is not None:
        inserts = inserts.join(live.select(on), on, "left_anti")
    inserts = inserts.select(*cols)
    os.makedirs(os.path.join(base, "data"), exist_ok=True)
    n_insert = 0
    if part_cols:
        # bounded driver collect: one row per touched partition (the
        # delta_dml partitioned-MERGE discipline — partition values,
        # never data rows). Routing evaluates each pfield's TRANSFORM
        # over the insert rows (identity: the column itself), so the
        # collected values ARE the typed partition-record values.
        from ..functions.transforms import transform_expr

        pfs = plan["pfields"]
        ins_type = {f.name: f.dataType for f in inserts.schema.fields}
        texpr = {
            pf["pname"]: transform_expr(
                pf["transform"], pf["src"], ins_type[pf["src"]]
            )
            for pf in pfs
        }
        pnames_r = [pf["pname"] for pf in pfs]
        touched = inserts.select(
            *[texpr[p].alias(p) for p in pnames_r]
        ).distinct().collect()
        for j, prow in enumerate(
            sorted(touched, key=lambda r: tuple(str(r[c]) for c in pnames_r))
        ):
            part_rec = {c: prow[c] for c in pnames_r}
            sub = inserts
            for c in pnames_r:
                sub = sub.filter(
                    texpr[c].eqNullSafe(F.lit(prow[c]))
                )
            ins_rel = f"mrg-{uid}-ins{j}.parquet"
            ins_abs = os.path.join(base, "data", ins_rel)
            _stage_single_parquet(sub, ins_abs)
            n_j = _pq.ParquetFile(ins_abs).metadata.num_rows
            if n_j == 0:
                os.remove(ins_abs)
                continue
            n_insert += n_j
            new_files.append((ins_rel, n_j, part_rec))
    else:
        ins_rel = f"mrg-{uid}-ins.parquet"
        ins_abs = os.path.join(base, "data", ins_rel)
        _stage_single_parquet(inserts, ins_abs)
        n_insert = _pq.ParquetFile(ins_abs).metadata.num_rows
        if n_insert == 0:
            os.remove(ins_abs)
        else:
            new_files.append((ins_rel, n_insert, {}))
    if not removed_paths and not new_files:
        return plan["read_version"], 0, 0  # full no-op: nothing to commit

    md_mutate = None
    if new_fields:

        def md_mutate(md: dict) -> None:
            # the evolved schema is a NEW entry (old snapshots keep
            # addressing their schema-id); current-schema-id moves in
            # the SAME metadata swap as the merge snapshot (one atomic
            # commit — surface59's append-evolution rule)
            prev_schemas = md.get("schemas", [])
            schema_id = (
                max((s.get("schema-id", 0) for s in prev_schemas), default=0)
                + 1
            )
            declared = _current_schema(plan["meta"])
            md["schemas"] = list(prev_schemas) + [
                {
                    "type": "struct",
                    "schema-id": schema_id,
                    "fields": [dict(f) for f in declared] + new_fields,
                }
            ]
            md["current-schema-id"] = schema_id
            md["last-column-id"] = plan["evolved_last_col"]

    new_v = _commit_cow_swap(
        base, plan["meta"], plan["read_version"], removed_paths, new_files,
        tag="mrg", md_mutate=md_mutate,
    )
    return new_v, n_rewritten, n_insert


def _commit_cow_swap(
    base: str,
    prev: dict,
    cur_v: int,
    removed_paths: set[str],
    new_files: list[tuple[str, int] | tuple[str, int, dict]],
    tag: str = "cow",
    md_mutate=None,
) -> int:
    """The single-snapshot copy-on-write commit shared by the Iceberg
    DML writers (MERGE, UPDATE): read-set validation against the
    planned metadata version, affected-manifest rewrite (removed files
    as status-2 DELETED, survivors status-0 EXISTING — schema and
    manifest-level sequence numbers preserved so inherited entry
    sequences stay correct), untouched manifests carried by pointer,
    new data files on one content=0 manifest at the new sequence, one
    put-if-absent metadata swap, read-dependent on ``cur_v``
    (``iceberg_reader.commit``). Cleans up staged files and raises
    ``IcebergCommitConflict`` if any commit landed since planning.
    Returns the new metadata version."""
    # (rel, n) callers are unpartitioned; (rel, n, part_rec) callers
    # transport the typed partition record into the new-files manifest
    new_files = [
        (t[0], t[1], t[2] if len(t) > 2 else {}) for t in new_files
    ]

    # runs only while the tip is still cur_v: the rewrite was planned
    # against cur_v's live set, so any commit landing since aborts it
    # (the matched-file set may be stale) instead of losing an update
    def build(_v: int, _tip_md: dict) -> dict:
        md = dict(prev)
        if md_mutate is not None:
            # writer-side evolution riding the same swap (MERGE WITH SCHEMA
            # EVOLUTION): the mutator appends the evolved schema entry and
            # moves current-schema-id, which the new snapshot records
            md_mutate(md)
        seq, snap_id = _next_ids(md)
        out_manifests: list[dict] = []
        for mi, m in enumerate(_manifests(base, md)):
            mschema, entries = read_container(
                _resolve_path(base, m["manifest_path"])
            )
            hit = any(
                e["status"] != 2
                and _resolve_path(base, e["data_file"]["file_path"])
                in removed_paths
                for e in entries
            )
            if not hit:
                out_manifests.append(m)  # untouched manifest: carried by pointer
                continue
            # rewrite the affected manifest: removed files become status-2
            # DELETED entries, survivors status-0 EXISTING. Schema and the
            # manifest-level sequence numbers are PRESERVED so entries with
            # inherited (null) sequence numbers keep their original sequence.
            new_entries = []
            for e in entries:
                if e["status"] == 2:
                    continue  # recorded by the snapshot that dropped it
                e2 = dict(e)
                path = _resolve_path(base, e["data_file"]["file_path"])
                e2["status"] = 2 if path in removed_paths else 0
                new_entries.append(e2)
            rpath = os.path.join(base, "metadata", f"m-{tag}-{snap_id}-rw{mi}.avro")
            write_container(rpath, mschema, new_entries)
            m2 = dict(m)
            m2["manifest_path"] = "file://" + rpath
            m2["manifest_length"] = os.path.getsize(rpath)
            out_manifests.append(m2)
        if new_files:
            out_manifests.append(
                _manifest(
                    base, md, f"m-{tag}-{snap_id}.avro",
                    [
                        _entry(base, rel, 0, n, seq=seq, partition=p)
                        for rel, n, p in new_files
                    ],
                    0, snap_id, seq,
                )
            )
        return _snapshot(base, md, out_manifests, "overwrite")

    try:
        return iceberg_commit(base, build, cur_v)
    except Exception:
        for rel, _n, _p in new_files:
            try:
                os.remove(os.path.join(base, "data", rel))
            except OSError:
                pass
        raise


def _build_merge_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Iceberg nation in two files (lo/hi); MERGE 5 updates (keys < 5,
    renamed) + 5 inserts (keys +100) — the hi file is untouched."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        upd = n.filter("n_nationkey < 5").withColumn(
            "n_name", F.concat(F.col("n_name"), F.lit("-MRG"))
        )
        ins = n.filter("n_nationkey < 5").select(
            (F.col("n_nationkey") + 100).cast("int").alias("n_nationkey"),
            F.concat(F.lit("INS-"), F.col("n_name")).alias("n_name"),
            "n_regionkey",
        )
        iceberg_merge_into(
            spark, base, upd.unionByName(ins), "n_nationkey", ["n_name"]
        )

    return built(sf_dir, "iceberg_merge_into", build)


@query(
    "iceberg_merge_into_roundtrip",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 5 THEN n_name || '-MRG'
                ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100, 'INS-' || n_name, n_regionkey
    FROM nation WHERE n_nationkey < 5
    """,
)
def iceberg_merge_into_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg keyed MERGE round-trip (round-11 verdict top ask): source
    carries 5 updates (keys < 5, renamed) and 5 new keys (+100); ONE
    snapshot commit rewrites exactly the matched lo file, carries the hi
    file by pointer, and lands the inserts in one fresh file — the
    snapshot reader answers the merged table, value-oracled
    cell-by-cell. Atomicity, the untouched-file carry (path AND
    sequence), the matched-file plan pin, the delete branch, the
    duplicate-source refusal, the concurrent-commit abort, and the
    changelog DELETE+INSERT view of the rewrite are pinned in
    tests/test_surface63.py."""
    base = _build_merge_fixture(spark, sf_dir)
    return iceberg_snapshot(spark, base)


def _net_cdf_feed(
    feed: DataFrame, on: str, value_cols: list[str]
) -> DataFrame:
    """Delta CDF window → net per-key MERGE source: latest-wins by
    (_commit_version, postimage ≻ insert ≻ preimage/delete rank — the
    cdc_latest_by_key shape), delete winners flagged. One keyed shuffle
    over change rows; change volume, not table volume, prices the
    apply."""
    rank = (
        F.when(F.col("_change_type") == "update_postimage", 2)
        .when(F.col("_change_type") == "insert", 1)
        .otherwise(0)
    )
    rk = F.struct(F.col("_commit_version"), rank.alias("r"))
    return (
        feed.withColumn("__rk", rk)
        .groupBy(on)
        .agg(
            *[F.max_by(c, "__rk").alias(c) for c in value_cols],
            F.max_by("_change_type", "__rk").alias("__ct"),
        )
        .filter(F.col("__ct") != "update_preimage")
        .withColumn("__cdc_del", F.col("__ct") == "delete")
        .select(on, *value_cols, "__cdc_del")
    )


@query(
    "iceberg_merge_cdc_apply",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 10
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey % 31 = 0 AND o_orderkey % 3 <> 0
    """,
)
def iceberg_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch GJ's replication loop pointed the OTHER way: an Iceberg
    target seeded from the Delta CDF fixture's v0 state absorbs the
    v1-v2 change window (update +10 on even keys, delete keys % 3 = 0)
    — the recorded cdc actions net to one per-key feed (latest-wins;
    an updated-then-deleted key nets to one flagged delete) and land
    through ONE Iceberg MERGE with the delete branch. The final Iceberg
    state is value-oracled against the source's final state — the
    invariant that makes the changelog a replication protocol. Feed
    netting and the delete branch are pinned in tests/test_surface63.py."""
    from .delta_cdf_write import _cdf_table
    from .delta_reader import delta_snapshot, delta_table_changes

    src_base = _cdf_table(spark, sf_dir)

    def build(tgt: str) -> None:
        seed = delta_snapshot(spark, src_base, version=0)
        iceberg_append(
            spark, tgt, seed.filter("o_orderkey % 2 = 0"), "seed-even.parquet"
        )
        iceberg_append(
            spark, tgt, seed.filter("o_orderkey % 2 = 1"), "seed-odd.parquet"
        )
        feed = _net_cdf_feed(
            delta_table_changes(spark, src_base, 1, None),
            "o_orderkey",
            ["o_totalprice", "o_orderstatus"],
        )
        iceberg_merge_into(
            spark,
            tgt,
            feed,
            "o_orderkey",
            ["o_totalprice", "o_orderstatus"],
            delete_col="__cdc_del",
        )

    tgt = built(sf_dir, "iceberg_cdc_apply_tgt", build)
    return iceberg_snapshot(spark, tgt)
