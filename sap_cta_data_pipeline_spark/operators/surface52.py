"""Hudi table services: cleaner + timeline archival, so old file slices
do not accumulate forever and time travel cannot reach views whose
slices are gone (the Delta vacuum / Iceberg expiry symmetry). Both live
in ``hudi_timeline``:

- **Cleaner** (``hudi_clean``, KEEP_LATEST_COMMITS): retain the last N
  completed commits; per file group keep every slice written at/after
  the earliest retained instant and the latest slice before it, which
  still serves the earliest retained view. Older slices are deleted and
  recorded in a ``.clean`` instant carrying ``earliestCommitToRetain`` —
  the retention fence, before which time travel refuses.
- **Archival** (``hudi_archive_timeline``): completed commits older than
  the fence move to ``.hoodie/archived/commits.archived`` (append-only
  JSONL, crash-safe per instant), which bounds the files every read
  lists. It refuses until a cleaner has set the fence. The file-slice
  view replays archived instants too, so snapshots survive archival.

Scale: cleaning and archival are timeline-metadata work plus unlinks —
O(file groups), never a data scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from . import hudi_timeline as ht
from .lakehouse_interop import hudi_cow_snapshot
from .sources import built


def _build_cleaner_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, list[str]]:
    """Four CoW upserts over nation producing multi-slice groups:

    i1 insert keys<12 (group A slice 1); i2 insert keys>=12 (group B
    slice 1 — B is never rewritten again: the cleaner must KEEP it);
    i3 upsert keys<12 with scrambled names (A slice 2); i4 upsert
    keys<12 back to the originals (A slice 3). Latest state == clean
    nation."""
    from .hudi_write import hudi_cow_upsert

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        lo, hi = n.filter("n_nationkey < 12"), n.filter("n_nationkey >= 12")
        hudi_cow_upsert(spark, base, lo, "n_nationkey")
        hudi_cow_upsert(spark, base, hi, "n_nationkey")
        hudi_cow_upsert(
            spark,
            base,
            lo.withColumn("n_name", F.concat(F.col("n_name"), F.lit("-TMP"))),
            "n_nationkey",
        )
        hudi_cow_upsert(spark, base, lo, "n_nationkey")

    base = built(sf_dir, "hudi_cleaner", build)
    # the four upserts' instants, active or archived
    done = [i for i in ht.instants(base) if i.state == "completed"]
    return base, [i.ts for i in done if i.action == "commit"]


@query(
    "hudi_cleaner_retention",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def hudi_cleaner_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaner round-trip: retain the last 2 commits; group A drops its
    oldest slice (physically deleted, recorded in the .clean instant),
    group B — last written before the fence — keeps its only slice
    because it still serves every retained view. The identity oracle
    certifies the post-clean snapshot is value-identical; deletion,
    fence, and refusal pins live in tests/test_surface52.py."""
    base, _ = _build_cleaner_fixture(spark, sf_dir)
    if ht._retention_fence(ht._timeline_dir(base)) is None:
        ht.hudi_clean(base, retain_commits=2)
    return hudi_cow_snapshot(spark, base)


@query(
    "hudi_timeline_archival",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), '00000000000003',
       CAST(25 AS BIGINT))
    ) t(n_archived, n_active_commits, earliest_retained, n_rows)
    """,
)
def hudi_timeline_archival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeline archival after the clean: the two pre-fence commits
    (i1, i2) move to archived/commits.archived, the active timeline
    keeps i3, i4 — and the snapshot is UNCHANGED because the file-slice
    view replays archived instants too (group B's only slice, written by
    the now-archived i2, keeps serving). The stats row value-oracles the
    archived/active split, the fence, and the surviving row count."""
    base, _ = _build_cleaner_fixture(spark, sf_dir)
    tl = ht._timeline_dir(base)
    if ht._retention_fence(tl) is None:
        ht.hudi_clean(base, retain_commits=2)
    if not ht._archived_instants(tl):
        ht.hudi_archive_timeline(base)
    n_rows = hudi_cow_snapshot(spark, base).count()
    return spark.createDataFrame(
        [
            (
                len(ht._archived_instants(tl)),
                len(ht._completed_commits(tl)),
                ht._retention_fence(tl),
                n_rows,
            )
        ],
        "n_archived bigint, n_active_commits bigint, "
        "earliest_retained string, n_rows bigint",
    )
