"""§2 round-12 batch GS — partitioned Iceberg DML (MERGE + UPDATE).

Batches GM/GP gave Iceberg keyed MERGE and predicate UPDATE for
UNPARTITIONED tables; the partitioned lane refused. But partitioning is
WHY large Iceberg tables are cheap to mutate — a date-partitioned
100 TB table absorbing a daily window should plan against one
partition's manifest entries, not the table. This batch claims
identity-partitioned tables end to end:

- ``iceberg_merge_partitioned_roundtrip`` — keyed CoW MERGE into an
  identity(n_regionkey)-partitioned table. Matched-file rewrites keep
  each file's partition record verbatim (partition columns are refused
  in ``update_cols``, so a CoW rewrite can never move a row across
  partitions); inserts split into ONE FILE PER TOUCHED PARTITION, each
  manifest entry carrying the typed partition record the reader's file
  skipping prunes on (the touched-partition set is a bounded driver
  collect — partition values, never data rows, the delta_dml
  discipline). An optional ``partition_filter`` prunes the CANDIDATE
  file set driver-side from pure manifest metadata before any data
  scan; it is VALIDATED against the source (a source row outside the
  filter refuses — an unvalidated filter would silently turn pruned
  matches into duplicate inserts).
- ``iceberg_update_partitioned_roundtrip`` — predicate CoW UPDATE on
  the same table shape. Its ``partition_filter`` needs no source
  guard: the filter is AND-composed into the row predicate, so pruning
  and semantics agree by construction (a wrong filter can only narrow
  the statement, never corrupt it).

Non-identity transforms (bucket/truncate/days/...) stay refused in
house style: routing rewritten and inserted rows to transformed
partition values needs transform re-evaluation this writer does not
claim.

Scale: planning reads manifests only (one record per file); with a
partition filter the candidate set — and therefore the tagged live
scan — is the touched partitions' files. Rewrites stay bounded by
matched files, inserts by the change volume, and the commit is one
metadata swap. The partition records written for new files keep EVERY
future partition-pruned read exact, so the O(touched-partitions)
property compounds across the table's whole DML history.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .iceberg_reader import iceberg_snapshot, _build_iceberg_part_fixture
from .sources import built
from .surface63 import iceberg_merge_into
from .surface66 import iceberg_update_cow


def _part_table(spark: SparkSession, sf_dir: str, name: str, dml) -> str:
    """A fresh identity(n_regionkey)-partitioned Iceberg nation table in
    this key's own scratch with ``dml(base)`` applied (the shared
    ``iceberg_table_part`` fixture is read-only to scans; DML keys mutate
    their own copy)."""

    def build(base: str) -> None:
        _build_iceberg_part_fixture(spark, sf_dir, base)
        dml(base)

    return built(sf_dir, name, build)


@query(
    "iceberg_merge_partitioned_roundtrip",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 2 THEN n_name || '-MRG'
                ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100, 'INS-' || n_name, n_regionkey
    FROM nation WHERE n_nationkey < 4
    """,
)
def iceberg_merge_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyed CoW MERGE into an identity(n_regionkey)-partitioned Iceberg
    table: region 2's rows are renamed (ONE partition's file rewritten —
    every other file carried by pointer with path and sequence pinned)
    and four new keys insert across four regions (one fresh file PER
    touched partition, typed partition records pinned). The
    ``partition_filter`` fast path, its out-of-filter source refusal,
    the partition-column-update refusal, the non-identity-transform
    refusal, and post-merge partition-pruned reads are pinned in
    tests/test_surface69.py."""

    def merge(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        upd = n.filter("n_regionkey = 2").withColumn(
            "n_name", F.concat(F.col("n_name"), F.lit("-MRG"))
        )
        ins = n.filter("n_nationkey < 4").select(
            (F.col("n_nationkey") + 100).cast("int").alias("n_nationkey"),
            F.concat(F.lit("INS-"), F.col("n_name")).alias("n_name"),
            "n_regionkey",
        )
        iceberg_merge_into(
            spark, base, upd.unionByName(ins), "n_nationkey", ["n_name"]
        )

    base = _part_table(spark, sf_dir, "iceberg_merge_part", merge)
    return iceberg_snapshot(spark, base)


@query(
    "iceberg_update_partitioned_roundtrip",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 2 AND n_nationkey % 2 = 0
                THEN n_name || '-UPD' ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)
def iceberg_update_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Predicate CoW UPDATE on the identity-partitioned table through
    the ``partition_filter`` fast path: candidate files prune to region
    2 driver-side (manifest metadata only — pinned), the filter is
    AND-composed into the predicate (semantics exact by construction:
    the oracle's CASE carries both conjuncts), and only region 2's file
    is rewritten (other files' path+sequence pinned)."""

    def update(base: str) -> None:
        iceberg_update_cow(
            spark,
            base,
            "n_nationkey % 2 = 0",
            {"n_name": "concat(n_name, '-UPD')"},
            partition_filter={"n_regionkey": 2},
        )

    base = _part_table(spark, sf_dir, "iceberg_update_part", update)
    return iceberg_snapshot(spark, base)
