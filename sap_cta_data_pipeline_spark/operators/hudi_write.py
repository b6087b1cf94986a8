"""§2 round-8 batch DY — Hudi WRITE side: a generic copy-on-write
UPSERT writer over the public timeline protocol, and MoR COMPACTION
(fold a file group's log blocks into a new base slice).

The round-8 Hudi reader batches (CoW snapshot, MoR snapshot/time
travel/incremental) established the read side over the public layout
(hudi.apache.org/tech-specs): completed instants ``{ts}.commit`` /
``{ts}.deltacommit`` in ``.hoodie/``, write stats naming (fileId, path),
``.requested``/``.inflight`` markers invisible to readers. This module
adds the missing verbs:

- ``hudi_cow_upsert``: route incoming rows against the current file
  slices — keys hitting an existing file group REWRITE that group
  (copy-on-write: old slice's survivors + new versions, same fileId,
  new instant suffix), unseen keys open a new file group — then
  complete the instant through the requested → inflight → commit
  lifecycle. Affected groups are discovered DISTRIBUTED (a semi-join on
  the record key; only the distinct fileId list — file-count bounded —
  is collected, the Delta-UPDATE probe discipline).
- ``hudi_mor_compact``: for each file group with pending log blocks,
  materialize the merged latest-wins slice ONCE (the same
  ``hudi_mor_snapshot`` merge, restricted to that group) into a new
  base parquet committed at a new instant — after which the group's
  log list resets (hudi_mor_state's parquet-starts-new-slice rule) and
  reads degrade to a pure parquet scan. Pre-compaction time travel
  still replays the logs (pinned).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .lakehouse_interop import _stage_single_parquet, hudi_cow_state, hudi_cow_snapshot
from .sources import built


def _timeline_dir(base: str) -> str:
    tl = os.path.join(base, ".hoodie")
    os.makedirs(tl, exist_ok=True)
    props = os.path.join(tl, "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w") as fh:
            fh.write(
                "hoodie.table.name=written\nhoodie.table.type=COPY_ON_WRITE\n"
            )
    return tl


_INSTANT_WIDTH = 14  # Hudi-style timestamp width: lexicographic == numeric


def _next_instant(tl: str) -> str:
    """Next instant time. New tables start at the Hudi-style 14-digit
    width so lexicographic timeline ordering (which every reader relies
    on) equals numeric ordering for any realistic instant count; tables
    that already carry narrower instant names continue at their existing
    width, and refuse loudly rather than overflow it (999 → 1000 under
    3-digit names would sort before 101 lexicographically)."""
    names = [
        f.split(".", 1)[0]
        for f in os.listdir(tl)
        if f.endswith((".commit", ".deltacommit", ".inflight", ".requested"))
        and f.split(".", 1)[0].isdigit()
    ]
    if not names:
        return f"{1:0{_INSTANT_WIDTH}d}"
    width = max(len(n) for n in names)
    nxt = max(int(n) for n in names) + 1
    if len(str(nxt)) > width:
        raise ValueError(
            f"instant {nxt} overflows the timeline's {width}-digit naming; "
            "lexicographic ordering would break — rewrite the timeline at "
            f"{_INSTANT_WIDTH}-digit width first"
        )
    return f"{nxt:0{width}d}"


def _complete_instant(
    tl: str, instant: str, writes: list[tuple[str, str]], kind: str = "commit"
) -> None:
    """Walk the public instant lifecycle: requested → inflight →
    completed. Completion is an atomic rename of a staged JSON — the
    timeline's equivalent of the Delta/Iceberg put-if-absent swap."""
    meta = {
        "partitionToWriteStats": {
            "": [{"fileId": fid, "path": p, "numWrites": 1} for fid, p in writes]
        },
        "operation": "upsert" if kind == "commit" else "compact",
    }
    open(os.path.join(tl, f"{instant}.requested"), "w").close()
    open(os.path.join(tl, f"{instant}.inflight"), "w").close()
    tmp = os.path.join(tl, f".tmp-{instant}.{kind}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(tl, f"{instant}.{kind}"))
    os.remove(os.path.join(tl, f"{instant}.requested"))
    os.remove(os.path.join(tl, f"{instant}.inflight"))


def hudi_cow_upsert(
    spark: SparkSession, base: str, df: DataFrame, key_col: str
) -> str:
    """Copy-on-write upsert of ``df`` keyed by ``key_col``; returns the
    completed instant time. Existing groups hit by an incoming key are
    rewritten (survivors + new versions, latest-wins within the batch by
    key — the batch is deduped on the key first); unseen keys land in
    one new file group."""
    tl = _timeline_dir(base)
    instant = _next_instant(tl)
    incoming = df.dropDuplicates([key_col])
    groups = hudi_cow_state(base) if any(
        f.endswith(".commit") for f in os.listdir(tl)
    ) else {}
    writes: list[tuple[str, str]] = []
    if groups:
        # additive schema evolution (round-11 batch GK, the Delta/Iceberg
        # writer-evolution symmetry): NEW incoming columns are allowed —
        # rewritten slices carry them (survivors take NULL via the
        # allowMissingColumns union below) and untouched groups' slices
        # simply lack them (the mergeSchema read serves typed NULLs). A
        # TYPE conflict refuses loudly, exactly like the other two
        # formats' writers: Hudi resolves promotions through Avro schema
        # resolution, a surface this writer does not claim. Footer-only
        # schema discovery — no data read.
        cur = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(base, p) for p in sorted(groups.values())]
        ).schema
        cur_by_name = {f.name: f for f in cur.fields}
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

    def _with_meta(d: DataFrame) -> DataFrame:
        cols = [c for c in d.columns if not c.startswith("_hoodie_")]
        return d.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.col(key_col).cast("string").alias("_hoodie_record_key"),
            *cols,
        )

    if groups:
        existing = spark.read.parquet(
            *[os.path.join(base, p) for p in sorted(groups.values())]
        ).withColumn(
            "__file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        )
        path_to_fid = {os.path.basename(p): fid for fid, p in groups.items()}
        # literal file→group map (bounded by group count), JVM-side
        fid_map = F.create_map(
            *[F.lit(x) for kv in sorted(path_to_fid.items()) for x in kv]
        )
        existing = existing.withColumn("__fid", fid_map[F.col("__file")])
        keys = incoming.select(F.col(key_col).cast("string").alias("__k"))
        # DISTRIBUTED probe: which groups does the batch touch?
        hit = (
            existing.join(
                keys, existing["_hoodie_record_key"] == keys["__k"], "left_semi"
            )
            .select("__fid")
            .distinct()
            .collect()
        )  # distinct fileIds only — bounded by file-group count
        hit_fids = {r["__fid"] for r in hit}
        for fid in sorted(hit_fids):
            old = existing.filter(F.col("__fid") == fid)
            survivors = old.join(
                keys, old["_hoodie_record_key"] == keys["__k"], "left_anti"
            ).drop("__file", "__fid")
            replaced = incoming.join(
                old.select(F.col("_hoodie_record_key").alias("__k")).distinct(),
                incoming[key_col].cast("string") == F.col("__k"),
                "left_semi",
            )
            rel = f"{fid}_0-0-0_{instant}.parquet"
            # allowMissingColumns IS the additive-evolution union: a new
            # incoming column reaches survivors as NULL; a dropped-from-
            # frame column keeps survivor values and NULLs the new rows
            merged = survivors.unionByName(
                _with_meta(replaced), allowMissingColumns=True
            )
            _stage_single_parquet(merged, os.path.join(base, rel))
            writes.append((fid, rel))
        inserts = incoming.join(
            existing.select(
                F.col("_hoodie_record_key").alias("__k")
            ).distinct(),
            incoming[key_col].cast("string") == F.col("__k"),
            "left_anti",
        )
    else:
        inserts = incoming
    if inserts.limit(1).count() > 0:
        fid = f"fg-i{instant}"
        rel = f"{fid}_0-0-0_{instant}.parquet"
        _stage_single_parquet(_with_meta(inserts), os.path.join(base, rel))
        writes.append((fid, rel))
    _complete_instant(tl, instant, writes)
    return instant


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
    """Compact every file group with pending log blocks: materialize the
    merged latest-wins slice (base ∪ decoded logs, one groupBy — the
    read path's own merge) into a NEW base parquet per group, committed
    at a new instant whose write stats name the parquet — which resets
    the group's log list under hudi_mor_state's slice rule. Tombstoned
    keys are physically absent from the compacted base. Returns the
    compaction instant."""
    from .hudi_mor import hudi_mor_snapshot, hudi_mor_state

    tl = os.path.join(base, ".hoodie")
    slices = hudi_mor_state(base)
    pending = {fid for fid, (_, logs) in slices.items() if logs}
    if not pending:
        raise ValueError(f"nothing to compact under {base}")
    instant = _next_instant(tl)
    writes = []
    for fid in sorted(pending):
        # Merge ONLY this group's slice (base + its logs): record keys
        # map to exactly one file group, so per-group merges partition
        # the table — writing the whole-table snapshot into every
        # group's new base would duplicate all rows on ≥2-group tables.
        merged = hudi_mor_snapshot(spark, base, fids={fid}, keep_key=True)
        rel = f"{fid}_0-0-0_{instant}.parquet"
        out = merged.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            "_hoodie_record_key",
            *[c for c in merged.columns if c != "_hoodie_record_key"],
        )
        _stage_single_parquet(out, os.path.join(base, rel))
        writes.append((fid, rel))
    _complete_instant(tl, instant, writes, kind="commit")
    return instant


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
