"""§2 round-11 batch GK — Hudi upsert schema evolution.

The third leg of the round-11 writer-evolution story (Delta batch GF,
Iceberg batch GI): a copy-on-write UPSERT whose frame carries NEW
columns. Hudi's evolution contract is Avro schema resolution against
the latest commit's writer schema; the equivalent on this repo's
public-layout writer:

- rewritten slices carry the new columns (survivors take typed NULLs —
  the ``allowMissingColumns`` union IS additive evolution);
- untouched groups' slices simply lack the columns; the snapshot read
  unifies mixed slice schemas (parquet ``mergeSchema``) and serves
  typed NULLs — no rewrite of groups the batch never touched;
- a TYPE conflict refuses loudly (Avro-resolution promotions are a
  surface this writer does not claim), matching the Delta/Iceberg
  refusal discipline.

Scale: evolution costs NOTHING beyond the upsert itself — the only
slices written are the ones the keys already forced; the mixed-schema
read is footer-unification (bounded by live-slice count), never a data
rewrite. The tri-format symmetry is the point: on all three formats,
"new column" is a metadata-priced operation.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .hudi_write import hudi_cow_upsert
from .lakehouse_interop import hudi_cow_snapshot
from .sources import built


@query(
    "hudi_upsert_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_nationkey < 3 OR n_nationkey = 25
                THEN CAST(1 AS INT) END AS n_flag
    FROM (
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      UNION ALL SELECT 25, 'ATLANTIS', 0
    )
    """,
)
def hudi_upsert_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evolved-upsert round-trip: after two 3-column upserts (lo / hi
    file groups), a third upsert carries the NEW ``n_flag`` column —
    updating keys 0-2 (group lo rewrites with survivors NULL-flagged)
    and inserting key 25 (a new group born with the column). Group hi
    is NEVER rewritten; its pre-evolution slice reads back with typed
    NULLs through the mergeSchema snapshot. Every cell value-oracled.
    The type-conflict refusal, survivor-NULL union, and
    untouched-group invariant are pinned in tests/test_surface61.py."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        hudi_cow_upsert(spark, base, n.filter("n_nationkey < 12"), "n_nationkey")
        hudi_cow_upsert(spark, base, n.filter("n_nationkey >= 12"), "n_nationkey")
        batch = (
            n.filter("n_nationkey < 3")
            .unionByName(
                spark.createDataFrame(
                    [(25, "ATLANTIS", 0)],
                    "n_nationkey int, n_name string, n_regionkey int",
                )
            )
            .withColumn("n_flag", F.lit(1).cast("int"))
        )
        hudi_cow_upsert(spark, base, batch, "n_nationkey")

    base = built(sf_dir, "hudi_evolve", build)
    return hudi_cow_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey", "n_flag"
    )
