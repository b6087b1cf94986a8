"""§2 round-12 batch GQ — the MOR write path + MERGE WITH SCHEMA
EVOLUTION for Iceberg.

- ``sink_hudi_mor_upsert`` — until now the repo READ merge-on-read
  tables (snapshot / time travel / incremental / compaction) but only
  WROTE copy-on-write: MOR fixtures were built by hand. This is the
  public MOR upsert writer: updates append ONE avro log block per hit
  file group (the whole point of MOR — a point update costs a log
  append, not a base-file rewrite), deletes are tombstone records
  (``_hoodie_is_deleted``), inserts start a fresh base file, all under
  one ``.deltacommit`` instant. The repo's own MOR snapshot reader
  (hudi_mor.py — base ⋈ ordered log replay, latest-wins per key)
  answers the merged state.
- ``iceberg_merge_schema_evolution`` — MERGE WITH SCHEMA EVOLUTION,
  the Iceberg twin of delta_merge_schema_evolution (batch GF): NEW
  source columns evolve the schema additively (fresh field ids from
  last-column-id — surface59's append rule) in the SAME metadata swap
  as the merge snapshot. Matched rewrites carry the new column
  (source value on match, typed NULL elsewhere); untouched files
  predate it and the reader serves NULLs; inserts carry it natively.

Scale: a MOR upsert's write cost is O(change batch) — per hit group
one log block append; the deferred merge cost moves to readers and is
reclaimed by compaction (hudi_mor_compact), the classic write-
amplification trade. The hit batch never reaches the driver —
it rides one groupBy(fileId) shuffle into an applyInArrow group writer
that encodes and publishes each group's log block EXECUTOR-side
(temp-then-replace, retry-idempotent because block content is
key-sorted) and returns only (fileId, log path) commit messages; the
driver's share is the metadata envelope (routing maps and the
deltacommit), the standard executor-writes/driver-commits split every
real sink implements. The evolved MERGE adds zero data cost:
evolution is one schemas-list entry in the metadata JSON.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import query
from . import hudi_timeline as ht
from .sources import built


def hudi_mor_upsert(
    spark: SparkSession,
    base: str,
    df: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> str | None:
    """Merge-on-read upsert of ``df`` keyed by ``key_col``; returns the
    completed instant (None for an empty batch). Existing keys become
    log-block records on their owning file group (tombstones where
    ``delete_col`` is true); new keys start one fresh base file. The
    batch is deduped to one record per key per block first; WHICH
    duplicate survives is arbitrary (dropDuplicates keeps a
    nondeterministic row) — real Hudi resolves intra-batch duplicates by
    the precombine field, so callers with meaningful duplicates must
    pre-reduce the batch themselves (e.g. a window max over their
    ordering column) before calling this. Raises ``CommitConflict`` when
    a concurrent write to a hit group completed after this one read the
    table."""
    from .hudi_mor import _H_INSTANT_TIME, _H_SCHEMA, _log_record_schema
    from .hudi_write import _tag_file_groups
    from .lakehouse_interop import _stage_single_parquet

    ht.create_table(base, "MERGE_ON_READ")
    read, slices = ht.snapshot(base)
    incoming = df.dropDuplicates([key_col])
    flag = (
        F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    data_cols = [c for c in incoming.columns if c != delete_col]
    incoming = incoming.select(*data_cols, flag.alias("__del"))
    inserts = incoming.filter(~F.col("__del")).select(*data_cols)
    if slices:
        # key → owning group, from base files only (this writer's
        # inserts always start a fresh group, so base keys are complete)
        owner = _tag_file_groups(spark, base, slices).select(
            F.col("_hoodie_record_key").alias("__k"), "__fid"
        )
        routed = incoming.join(
            owner, incoming[key_col].cast("string") == owner["__k"], "left"
        )
        inserts = routed.filter(
            F.col("__fid").isNull() & ~F.col("__del")
        ).select(*data_cols)
        avro_schema = _log_record_schema(
            T.StructType(
                [T.StructField("_hoodie_record_key", T.StringType(), True)]
                + [
                    T.StructField(c, incoming.schema[c].dataType, True)
                    for c in data_cols
                ]
                + [T.StructField("_hoodie_is_deleted", T.BooleanType(), True)]
            )
        )
    has_inserts = inserts.limit(1).count() > 0

    def build(instant: str) -> list[tuple[str, str]]:
        writes: list[tuple[str, str]] = []
        if slices:
            # Per hit group, ONE log block with the group's records, written
            # EXECUTOR-SIDE: the hit batch rides one groupBy(__fid) shuffle
            # (change-sized) into applyInArrow — each group's task encodes
            # and writes its own block under temp-then-replace atomicity
            # (idempotent across task retries: the content is key-sorted, so
            # every attempt produces identical bytes) and returns only
            # (fid, log_rel) as its commit message. Log names reach the batch
            # through a broadcast-joined frame, so the plan's size does not
            # grow with the file-group count.
            hdr = {_H_INSTANT_TIME: instant, _H_SCHEMA: json.dumps(avro_schema)}
            log_rels = spark.createDataFrame(
                sorted(
                    (fid, f"{fid}_0-0-0.log.{len(logs) + 1}_{instant}")
                    for fid, (_b, logs) in slices.items()
                ),
                "__fid string, __log_rel string",
            )
            hits = routed.filter(F.col("__fid").isNotNull()).join(
                F.broadcast(log_rels), "__fid"
            )

            def _write_block(tbl):
                # runs on Python workers; package import verified available
                # there (workers start with the repo root on sys.path)
                import os as _os
                import uuid as _uuid

                import pyarrow as _pa

                from sap_cta_data_pipeline_spark.operators.hudi_mor import (
                    _AVRO_DATA_BLOCK as _BLK,
                    encode_avro_data_block as _enc,
                    write_log_block as _wlb,
                )

                rows = tbl.to_pylist()
                fid, log_rel = rows[0]["__fid"], rows[0]["__log_rel"]
                records = sorted(
                    (
                        {
                            "_hoodie_record_key": str(r[key_col]),
                            **{c: None if r["__del"] else r[c] for c in data_cols},
                            **{key_col: r[key_col]},  # key survives tombstones
                            "_hoodie_is_deleted": bool(r["__del"]),
                        }
                        for r in rows
                    ),
                    key=lambda d: d["_hoodie_record_key"],
                )
                final = _os.path.join(base, log_rel)
                tmp = f"{final}.__tmp_{_uuid.uuid4().hex}"
                with open(tmp, "wb") as fh:
                    _wlb(fh, _BLK, hdr, _enc(avro_schema, records))
                _os.replace(tmp, final)  # atomic publish, retry-idempotent
                return _pa.table(
                    {"fid": _pa.array([fid]), "log_rel": _pa.array([log_rel])}
                )

            commit_msgs = (
                hits.groupBy("__fid")
                .applyInArrow(_write_block, "fid string, log_rel string")
                .collect()
            )
            writes += sorted((m.fid, m.log_rel) for m in commit_msgs)
        if has_inserts:
            fid = f"fg-i{instant}"
            rel = f"{fid}_0-0-0_{instant}.parquet"
            with_meta = inserts.select(
                F.lit(instant).alias("_hoodie_commit_time"),
                F.col(key_col).cast("string").alias("_hoodie_record_key"),
                *data_cols,
            )
            _stage_single_parquet(with_meta, os.path.join(base, rel))
            writes.append((fid, rel))
        return writes

    return ht.commit(
        base, build, action="deltacommit", operation="upsert", read=read
    )


def _build_mor_upsert_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        hudi_mor_upsert(spark, base, n, "n_nationkey")
        upd = (
            n.filter("n_nationkey < 4")
            .withColumn("n_name", F.concat(F.col("n_name"), F.lit("-MU")))
            .withColumn("__drop", F.lit(False))
            .unionByName(
                n.filter("n_regionkey = 4").withColumn("__drop", F.lit(True))
            )
        )
        hudi_mor_upsert(spark, base, upd, "n_nationkey", delete_col="__drop")

    return built(sf_dir, "hudi_mor_upsert", build)


@query(
    "sink_hudi_mor_upsert",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 4 THEN n_name || '-MU' ELSE n_name END
             AS n_name,
           n_regionkey
    FROM nation WHERE n_regionkey <> 4
    """,
)
def sink_hudi_mor_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi MERGE-ON-READ upsert write path (the read lanes existed
    since batch ~EK; the writer closes the format story): commit 1
    writes 25 nations as one base file, commit 2 appends ONE log block
    carrying 4 renames and region-4 tombstones — no base rewrite. The
    repo's own MOR snapshot reader answers the merged state,
    value-oracled cell-by-cell. The log-append bound (base slice
    untouched), tombstone round-trip, latest-wins within a batch,
    insert routing to a fresh group, and compaction folding the log
    (hudi_mor_compact) are pinned in tests/test_surface67.py.

    Keys whose batch rows are flagged deletes become tombstone records;
    an upsert-after-delete in a LATER commit resurrects the key (log
    replay is ordered — pinned)."""
    from .hudi_mor import hudi_mor_snapshot

    base = _build_mor_upsert_fixture(spark, sf_dir)
    return hudi_mor_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _build_merge_evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    from .iceberg_reader import iceberg_append
    from .surface63 import iceberg_merge_into

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        src = (
            n.filter("n_nationkey < 5")
            .withColumn("n_name", F.concat(F.col("n_name"), F.lit("-EV")))
            .withColumn("tier", (F.col("n_nationkey") % 3).cast("long"))
            .unionByName(
                n.filter("n_nationkey < 3").select(
                    (F.col("n_nationkey") + 200).cast("int").alias("n_nationkey"),
                    F.concat(F.lit("NEW-"), F.col("n_name")).alias("n_name"),
                    "n_regionkey",
                    F.lit(99).cast("long").alias("tier"),
                )
            )
        )
        iceberg_merge_into(
            spark, base, src, "n_nationkey", ["n_name", "tier"],
            schema_evolution=True,
        )

    return built(sf_dir, "iceberg_merge_evolution", build)


@query(
    "iceberg_merge_schema_evolution",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 5 THEN n_name || '-EV' ELSE n_name END
             AS n_name,
           n_regionkey,
           CASE WHEN n_nationkey < 5 THEN n_nationkey % 3 END AS tier
    FROM nation
    UNION ALL
    SELECT n_nationkey + 200, 'NEW-' || n_name, n_regionkey, 99
    FROM nation WHERE n_nationkey < 3
    """,
)
def iceberg_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION on Iceberg (the Delta twin is
    delta_merge_schema_evolution): the source carries a NEW ``tier``
    column — the evolved schema (fresh field id) commits in the SAME
    metadata swap as the merge snapshot, matched rewrites carry tier
    (source value on match, typed NULL on unmatched rows of the same
    file), the untouched hi file predates the column and reads as NULL,
    inserts carry it natively. Value-oracled cell-by-cell; the one-
    version atomicity, fresh-field-id rule, missing-target-column
    refusal, and the no-flag extra-column refusal are pinned in
    tests/test_surface67.py."""
    from .iceberg_reader import iceberg_snapshot

    base = _build_merge_evolution_fixture(spark, sf_dir)
    return iceberg_snapshot(spark, base)
