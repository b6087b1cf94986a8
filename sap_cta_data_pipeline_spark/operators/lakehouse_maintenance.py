"""§2 round-9 batch EY — lakehouse maintenance verbs: OPTIMIZE ZORDER
for Delta (multi-dimensional clustering compaction with per-file stats)
and snapshot EXPIRY for Iceberg (the retention half that makes orphan
cleanup reclaim anything).

- ``delta_optimize_zorder``: rewrite the live set into N files ordered
  and SPLIT by the Morton (z-order) interleave of two columns, each add
  carrying minValues/maxValues stats for those columns — the layout that
  turns two-column predicates into file skips (the point of OPTIMIZE
  ZORDER BY): after clustering, a filter on EITHER column prunes ~half
  the files from stats alone, which the existing
  scan_delta_stats_skipping reader path consumes. dataChange: false —
  streams skip it, CDF emits nothing, time travel to the pre-OPTIMIZE
  version still sees the old layout.
- ``iceberg_expire_snapshots``: drop all but the newest K snapshots from
  table metadata (current always kept). Expiry is PURE METADATA — no
  data file is touched — but it is what licenses physical reclaim:
  composition with surface23's orphan cleanup (whose keep-set is
  "referenced by any RETAINED snapshot") is pinned in tests — files only
  reachable from expired snapshots become reclaimable, files reachable
  from any kept snapshot never are.

Scale notes (SCALE.md batch EY): z-order compaction is one distributed
sort-by-z of the rewritten bytes (range-partitioned rank — no
single-partition sort) and is the ONLY way multi-column skipping
improves at rest; expiry is O(snapshots) driver metadata and bounds the
keep-set walk that orphan cleanup (a distributed listing job at scale)
runs against.
"""

from __future__ import annotations

import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ranks import with_global_row_number
from ..registry import query
from .delta_reader import _add, _remove, _stage_single_parquet, delta_snapshot, log_state
from .delta_reader import commit as delta_commit
from .iceberg_reader import _tip as _iceberg_tip, iceberg_append, iceberg_snapshot
from .iceberg_reader import commit as iceberg_commit
from .lakehouse_interop import _build_sink_fixture
from .sources import built
from .training_prep import _morton_sql


def delta_optimize_zorder(
    spark: SparkSession, base: str, col_a: str, col_b: str, n_files: int = 2
) -> int:
    """OPTIMIZE ZORDER BY (col_a, col_b): rewrite the live set (DVs
    applied) into ``n_files`` files ordered and split by the Morton
    interleave of the two columns' low bits, each add action carrying
    minValues/maxValues stats for the clustered columns. Commit is
    remove(all old) + adds with ``dataChange: false``, read-dependent
    (``delta_reader.commit``): a concurrent data change, or a concurrent
    commit removing a file this one rewrites, aborts it. Returns the
    committed version."""
    st = log_state(spark, base)
    tip = st.version
    if st.metadata.get("partitionColumns"):
        raise NotImplementedError(
            "delta_optimize_zorder: per-partition clustering not implemented"
        )
    merged = delta_snapshot(spark, base, tip)
    z = merged.withColumn("__z", F.expr(_morton_sql(col_a, col_b)))
    ranked = with_global_row_number(
        z, [F.asc("__z"), F.asc(col_a), F.asc(col_b)], "__rn", total_col="__tot"
    )
    bucket = ((F.col("__rn") - 1) * n_files / F.col("__tot")).cast("int")
    ranked = ranked.withColumn("__bucket", bucket).cache()
    actions: list[dict] = [
        {"commitInfo": {"operation": "OPTIMIZE", "zOrderBy": [col_a, col_b]}}
    ]
    actions += [_remove(st.adds[p], data_change=False) for p in sorted(st.adds)]
    # a fresh uid per rewrite: a fixed name would overwrite the file an
    # older version still references, breaking its time travel
    uid = _uuid.uuid4().hex[:12]
    for i in range(n_files):
        part = ranked.filter(F.col("__bucket") == i).orderBy("__rn")
        # per-file clustered-column stats: one 1-row aggregate per file
        agg = part.agg(
            F.min(col_a).alias("a_min"),
            F.max(col_a).alias("a_max"),
            F.min(col_b).alias("b_min"),
            F.max(col_b).alias("b_max"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        rel = f"part-zorder-{uid}-{i:05d}.parquet"
        _stage_single_parquet(
            part.drop("__z", "__rn", "__tot", "__bucket"),
            os.path.join(base, rel),
        )
        stats = {
            "numRecords": int(agg["n"]),
            "minValues": {col_a: agg["a_min"], col_b: agg["b_min"]},
            "maxValues": {col_a: agg["a_max"], col_b: agg["b_max"]},
        }
        actions.append(_add(base, rel, data_change=False, stats=stats))
    ranked.unpersist()
    return delta_commit(base, actions, tip)


@query(
    "delta_optimize_zorder",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def delta_optimize_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER round-trip on the sink table: the live files are
    rewritten into two z-clustered files (Morton of nationkey/regionkey)
    with per-file min/max stats for BOTH clustered columns, under
    dataChange:false — content is IDENTICAL (the identity oracle), the
    layout is not: tests pin that each output file is internally
    z-ordered, that every add action carries the two-column stats the
    scan_delta_stats_skipping path consumes, that the split point is the
    Morton median (disjoint z-ranges across files), and that the
    pre-OPTIMIZE version remains time-travelable with the old layout."""
    base = _build_sink_fixture(spark, sf_dir)
    clone = built(
        sf_dir,
        "delta_sink_zorder",
        lambda p: delta_optimize_zorder(spark, p, "n_nationkey", "n_regionkey"),
        copy_of=base,
    )
    return delta_snapshot(spark, clone).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def iceberg_expire_snapshots(
    spark: SparkSession, base: str, keep_last: int
) -> tuple[int, list[int]]:
    """Drop all but the newest ``keep_last`` snapshots (by sequence
    number; the current snapshot is always retained) from the table
    metadata, committed as a new metadata version; a lost commit slot
    re-plans the expiry on the fresh tip. Returns (new metadata version,
    expired snapshot ids). Pure metadata — physical reclaim is orphan
    cleanup's job, whose keep-set this shrinks."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")

    def plan(md: dict) -> tuple[list[dict], list[int]]:
        snaps = sorted(md.get("snapshots", []), key=lambda s: s["sequence-number"])
        kept = snaps[-keep_last:]
        kept_ids = {s["snapshot-id"] for s in kept}
        if md.get("current-snapshot-id") not in kept_ids:
            raise ValueError(
                "expiry would drop the CURRENT snapshot "
                f"{md.get('current-snapshot-id')} — refuse"
            )
        expired = [s["snapshot-id"] for s in snaps if s["snapshot-id"] not in kept_ids]
        return kept, expired

    cur_v, md = _iceberg_tip(os.path.join(base, "metadata"))
    if not plan(md)[1]:
        return cur_v, []
    expired: list[int] = []

    def build(_cur_v: int, md: dict) -> dict:
        kept, ids = plan(md)
        expired[:] = ids
        return {**md, "snapshots": kept}

    return iceberg_commit(base, build), expired


@query(
    "iceberg_expire_snapshots",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def iceberg_expire_snapshots_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry round-trip: a three-snapshot table (two appends,
    then a rewrite-style third append) expires down to its newest two —
    the CURRENT read is bit-identical (identity oracle), time travel to
    the expired snapshot now raises (pinned), and orphan cleanup's
    keep-set no longer contains files only the expired snapshot could
    reach (the expire→cleanup reclaim composition, pinned in tests).
    This is the retention verb every production table runs on a
    schedule; without it the log grows forever and nothing is ever
    physically reclaimable."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 8"), "a0.parquet")
        iceberg_append(
            spark, base, n.filter("n_nationkey >= 8 AND n_nationkey < 16"), "a1.parquet"
        )
        iceberg_append(spark, base, n.filter("n_nationkey >= 16"), "a2.parquet")
        iceberg_expire_snapshots(spark, base, keep_last=2)

    base = built(sf_dir, "iceberg_expire", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
