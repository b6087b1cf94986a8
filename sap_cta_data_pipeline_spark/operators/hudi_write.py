"""Hudi writers: a copy-on-write UPSERT and merge-on-read COMPACTION.
Both plan against ``hudi_timeline``'s file-slice view and commit through
``hudi_timeline.commit``.

- ``hudi_cow_upsert``: keys hitting an existing file group REWRITE that
  group (the old slice's survivors plus the new versions, same fileId,
  new instant suffix); unseen keys open one new file group. The groups
  hit are found by one distributed semi-join on the record key; only the
  distinct fileIds reach the driver.
- ``hudi_mor_compact``: each file group with pending log blocks gets its
  merged latest-wins slice written as a new base file, which resets its
  log list; time travel to before the compaction still replays the logs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from . import hudi_timeline as ht
from .lakehouse_interop import _stage_single_parquet, hudi_cow_snapshot
from .sources import built


def _tag_file_groups(spark: SparkSession, base: str, slices: ht.Slices) -> DataFrame:
    """The base files of ``slices`` as one frame (merged schema), each row
    tagged with its file group in ``__fid`` through a broadcast-joined
    frame, so the plan does not grow with the group count."""
    bases = sorted((b, fid) for fid, (b, _logs) in slices.items() if b is not None)
    to_fid = spark.createDataFrame(
        [(os.path.basename(b), fid) for b, fid in bases], "__file string, __fid string"
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(base, b) for b, _fid in bases])
        .withColumn(
            "__file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        )
        .join(F.broadcast(to_fid), "__file")
        .drop("__file")
    )


def hudi_cow_upsert(
    spark: SparkSession, base: str, df: DataFrame, key_col: str
) -> str | None:
    """Copy-on-write upsert of ``df`` keyed by ``key_col``; returns the
    completed instant (None for an empty batch). Existing groups hit by an
    incoming key are rewritten (survivors + new versions; the batch is
    deduped on the key first); unseen keys land in one new file group.
    Raises ``CommitConflict`` when a concurrent write to a hit group
    completed after this one read the table."""
    ht.create_table(base, "COPY_ON_WRITE")
    read, slices = ht.snapshot(base)
    incoming = df.dropDuplicates([key_col])
    keys = incoming.select(F.col(key_col).cast("string").alias("__k"))
    hit_fids: list[str] = []
    inserts = incoming
    if slices:
        existing = _tag_file_groups(spark, base, slices)
        # Additive schema evolution: new incoming columns are allowed
        # (rewritten slices carry them; the mergeSchema read serves typed
        # NULLs for the rest). A type conflict refuses, as the Delta and
        # Iceberg writers do: Hudi resolves promotions through Avro schema
        # resolution, which this writer does not claim.
        cur_by_name = {f.name: f for f in existing.schema.fields}
        for f in incoming.schema.fields:
            tgt = cur_by_name.get(f.name)
            if tgt is not None and tgt.dataType != f.dataType:
                raise ValueError(
                    f"upsert schema evolution: incoming column {f.name!r} "
                    f"has type {f.dataType.simpleString()} but the table's "
                    f"slices carry {tgt.dataType.simpleString()} — additive "
                    "evolution only (Avro-resolution promotions are not "
                    "claimed); cast the frame explicitly"
                )
        # distributed probe: which groups does the batch touch? Only the
        # distinct fileIds reach the driver.
        hit_fids = sorted(
            r["__fid"]
            for r in existing.join(
                keys, existing["_hoodie_record_key"] == keys["__k"], "left_semi"
            )
            .select("__fid")
            .distinct()
            .collect()
        )
        inserts = incoming.join(
            existing.select(F.col("_hoodie_record_key").alias("__k")).distinct(),
            incoming[key_col].cast("string") == F.col("__k"),
            "left_anti",
        )
    has_inserts = inserts.limit(1).count() > 0

    def build(instant: str) -> list[tuple[str, str]]:
        def with_meta(d: DataFrame) -> DataFrame:
            cols = [c for c in d.columns if not c.startswith("_hoodie_")]
            return d.select(
                F.lit(instant).alias("_hoodie_commit_time"),
                F.col(key_col).cast("string").alias("_hoodie_record_key"),
                *cols,
            )

        writes: list[tuple[str, str]] = []
        for fid in hit_fids:
            old = existing.filter(F.col("__fid") == fid)
            survivors = old.join(
                keys, old["_hoodie_record_key"] == keys["__k"], "left_anti"
            ).drop("__fid")
            replaced = incoming.join(
                old.select(F.col("_hoodie_record_key").alias("__k")).distinct(),
                incoming[key_col].cast("string") == F.col("__k"),
                "left_semi",
            )
            rel = f"{fid}_0-0-0_{instant}.parquet"
            # allowMissingColumns IS the additive-evolution union: a new
            # incoming column reaches survivors as NULL; a column missing
            # from the frame keeps survivor values and NULLs the new rows
            merged = survivors.unionByName(with_meta(replaced), allowMissingColumns=True)
            _stage_single_parquet(merged, os.path.join(base, rel))
            writes.append((fid, rel))
        if has_inserts:
            fid = f"fg-i{instant}"
            rel = f"{fid}_0-0-0_{instant}.parquet"
            _stage_single_parquet(with_meta(inserts), os.path.join(base, rel))
            writes.append((fid, rel))
        return writes

    return ht.commit(base, build, action="commit", operation="upsert", read=read)


@query(
    "sink_hudi_cow_upsert",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL SELECT 25, 'ATLANTIS', 0
    """,
)
def sink_hudi_cow_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-instant Hudi CoW UPSERT round-trip through the generic
    writer: instant 001 inserts keys < 12 with '-old' names, 002
    inserts keys ≥ 12 (second file group), 003 UPSERTS the clean names
    for keys < 12 (rewrites group 1 copy-on-write — same fileId, new
    slice) AND inserts a brand-new key 25 (third group, the mixed
    update+insert commit). Read back through the house CoW snapshot
    reader = nation plus the new row; the timeline lifecycle
    (requested → inflight → commit), slice supersession, and
    probe-bounded rewrite set are pinned in tests.

    Scale: the rewrite set is discovered by ONE distributed semi-join
    (only distinct fileIds reach the driver — file-count bounded), and
    write amplification is bounded by the groups the batch's keys
    actually hit — the same contract as the Delta CoW UPDATE lane."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        lo_old = n.filter("n_nationkey < 12").withColumn(
            "n_name", F.concat("n_name", F.lit("-old"))
        )
        hudi_cow_upsert(spark, base, lo_old, "n_nationkey")
        hudi_cow_upsert(
            spark, base, n.filter("n_nationkey >= 12"), "n_nationkey"
        )
        batch3 = n.filter("n_nationkey < 12").unionByName(
            spark.createDataFrame(
                [(25, "ATLANTIS", 0)], "n_nationkey int, n_name string, n_regionkey int"
            ).select(
                F.col("n_nationkey").cast(dict(n.dtypes)["n_nationkey"]),
                "n_name",
                F.col("n_regionkey").cast(dict(n.dtypes)["n_regionkey"]),
            )
        )
        hudi_cow_upsert(spark, base, batch3, "n_nationkey")

    base = built(sf_dir, "hudi_cow_sink", build)
    return hudi_cow_snapshot(spark, base)


def hudi_mor_compact(spark: SparkSession, base: str) -> str:
    """Compact every file group with pending log blocks: its merged
    latest-wins slice (base ∪ decoded logs, one groupBy — the read path's
    own merge) becomes a NEW base file, which resets the group's log list;
    tombstoned keys are physically gone. Returns the compaction instant;
    raises ``CommitConflict`` when a concurrent write to a compacted group
    completed after the plan was read."""
    from .hudi_mor import hudi_mor_snapshot

    read, slices = ht.snapshot(base)
    pending = sorted(fid for fid, (_, logs) in slices.items() if logs)
    if not pending:
        raise ValueError(f"nothing to compact under {base}")

    def build(instant: str) -> list[tuple[str, str]]:
        writes = []
        for fid in pending:
            # Merge ONLY this group's slice (base + its logs): record keys
            # map to exactly one file group, so per-group merges partition
            # the table — writing the whole-table snapshot into every
            # group's new base would duplicate all rows on ≥2-group tables.
            merged = hudi_mor_snapshot(
                spark, base, as_of=max(read), fids={fid}, keep_key=True
            )
            rel = f"{fid}_0-0-0_{instant}.parquet"
            out = merged.select(
                F.lit(instant).alias("_hoodie_commit_time"),
                "_hoodie_record_key",
                *[c for c in merged.columns if c != "_hoodie_record_key"],
            )
            _stage_single_parquet(out, os.path.join(base, rel))
            writes.append((fid, rel))
        return writes

    return ht.commit(
        base, build, action="commit", operation="compact", read=read
    )


@query(
    "hudi_mor_compact",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_nationkey % 5 <> 0
    """,
)
def hudi_mor_compact_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR compaction round-trip: take the module's MoR fixture (base
    file with '-old' names + a log file that upserts clean names and
    tombstones keys ≡ 0 mod 5), COMPACT it — one merged latest-wins
    pass per pending group written as a new base slice, committed on
    the timeline — and read the result back. The snapshot is unchanged
    by construction (compaction is a physical re-layout, never a
    semantic change — the same invariant the Delta/Iceberg compaction
    lanes pin), but now from a pure parquet scan: post-compaction state
    has ZERO log files in every slice (pinned), pre-compaction time
    travel still replays the logs (pinned).

    Scale: compaction reads each group's slice once and writes one
    file — the cost is the data rewritten, the payoff is every future
    read skipping the log-decode branch; scheduling it by log-bytes
    outstanding is exactly Hudi's compaction strategy knob."""
    from .hudi_mor import _build_mor_fixture, hudi_mor_snapshot

    src = _build_mor_fixture(spark, sf_dir)
    base = built(
        sf_dir, "hudi_mor_compacted", lambda p: hudi_mor_compact(spark, p), copy_of=src
    )
    return hudi_mor_snapshot(spark, base)
