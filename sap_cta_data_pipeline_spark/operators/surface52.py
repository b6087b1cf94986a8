"""§2 round-10 batch FY — Hudi table services: cleaner + timeline archival.

Round-9 verdict missing #3: ``hudi_mor_compact`` existed but old file
slices accumulated forever and time travel silently worked arbitrarily
far back — unlike the Delta/Iceberg lanes, which pin vacuum/expiry
safety. This batch closes the symmetry:

- **Cleaner** (KEEP_LATEST_COMMITS policy): retain the last N completed
  commits; per file group keep (a) every slice written at/after the
  earliest retained instant and (b) the latest slice at-or-before it
  (still needed to serve the earliest retained view — a group last
  rewritten long ago keeps exactly that slice). Everything older is
  physically deleted and recorded in a ``.clean`` instant carrying
  ``earliestCommitToRetain`` — the retention fence.
- **Archival**: completed commit instants strictly OLDER than the
  retention fence move out of the active timeline into
  ``.hoodie/archived/commits.archived`` (JSONL, append-only — the
  bounded-active-timeline property a long-lived table needs: every
  commit ever made would otherwise sit as a file the timeline loader
  stats on EVERY read). Archival REFUSES until a cleaner has
  established the fence — archiving an uncleaned instant would strand
  slices no active commit describes.
- **Reader**: state discovery is FILESYSTEM-based (the public Hudi
  slice naming ``{fileId}_0-0-0_{instant}.parquet``), gated on
  instant completeness (active or archived — an inflight writer's
  parquet is invisible), so snapshots survive archival unchanged. Time
  travel BEFORE the retention fence refuses loudly naming the fence
  (the ``delta_vacuum_safety`` / ``iceberg_expire_snapshots``
  symmetry), because the slices that served that view are gone.

Scale: cleaning and archival are timeline-metadata work plus unlinks —
O(file groups), never a data scan; the snapshot read stays one
distributed parquet scan of the latest slices.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .hudi_write import _timeline_dir
from .sources import built

_SLICE_SEP = "_0-0-0_"


def _completed_commits(tl: str) -> list[str]:
    return sorted(
        f[: -len(".commit")] for f in os.listdir(tl) if f.endswith(".commit")
    )


def _archived_instants(tl: str) -> list[dict]:
    path = os.path.join(tl, "archived", "commits.archived")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _retention_fence(tl: str) -> str | None:
    """earliestCommitToRetain from the LATEST clean instant, or None."""
    cleans = sorted(f for f in os.listdir(tl) if f.endswith(".clean"))
    if not cleans:
        return None
    with open(os.path.join(tl, cleans[-1])) as fh:
        return json.load(fh)["earliestCommitToRetain"]


def _slices(base: str) -> dict[str, dict[str, str]]:
    """fileId -> {instant -> relative path} from the slice naming."""
    out: dict[str, dict[str, str]] = {}
    for f in os.listdir(base):
        if not f.endswith(".parquet") or _SLICE_SEP not in f:
            continue
        fid, rest = f.split(_SLICE_SEP, 1)
        out.setdefault(fid, {})[rest[: -len(".parquet")]] = f
    return out


def hudi_fs_state(base: str, as_of: str | None = None) -> dict[str, str]:
    """Latest file slice per group AT ``as_of`` (None = latest) by
    filesystem discovery, visible only when the slice's instant is
    COMPLETED (active commit or archived). Refuses a target before the
    cleaner's retention fence — those views' slices are deleted."""
    tl = _timeline_dir(base)
    completed = set(_completed_commits(tl)) | {
        a["instant"] for a in _archived_instants(tl)
    }
    fence = _retention_fence(tl)
    if as_of is not None and fence is not None and as_of < fence:
        raise ValueError(
            f"cannot time travel to instant {as_of}: the cleaner retained "
            f"history only back to {fence} (KEEP_LATEST_COMMITS); earlier "
            "file slices are physically deleted"
        )
    state: dict[str, str] = {}
    for fid, by_instant in _slices(base).items():
        eligible = [
            i
            for i in by_instant
            if i in completed and (as_of is None or i <= as_of)
        ]
        if eligible:
            state[fid] = by_instant[max(eligible)]
    return state


def hudi_fs_snapshot(
    spark: SparkSession, base: str, as_of: str | None = None
) -> DataFrame:
    state = hudi_fs_state(base, as_of)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(base, p) for p in sorted(state.values())]
    )
    return df.drop(*[c for c in df.columns if c.startswith("_hoodie_")])


def hudi_clean(base: str, retain_commits: int) -> dict:
    """KEEP_LATEST_COMMITS cleaner. Returns the clean metadata written
    to the timeline (earliestCommitToRetain + deleted paths)."""
    if retain_commits < 1:
        raise ValueError("retain_commits must be >= 1")
    tl = _timeline_dir(base)
    commits = _completed_commits(tl)
    if len(commits) <= retain_commits:
        fence = commits[0] if commits else None
    else:
        fence = commits[-retain_commits]
    # the cleaner plans against COMPLETED slices only (active commit or
    # archived) — mirroring hudi_fs_state's completeness gate. A leftover
    # inflight/crashed-writer slice must neither count as a group's kept
    # "latest" (it serves no view) nor trigger deletion of the completed
    # slice it would otherwise supersede — round-10 ADVICE fix.
    completed = set(commits) | {a["instant"] for a in _archived_instants(tl)}
    deleted: list[str] = []
    if fence is not None:
        for fid, by_instant in _slices(base).items():
            older = sorted(
                i for i in by_instant if i <= fence and i in completed
            )
            # keep the latest slice serving the fence view; delete the rest
            for i in older[:-1]:
                deleted.append(by_instant[i])
                os.remove(os.path.join(base, by_instant[i]))
    meta = {
        "policy": "KEEP_LATEST_COMMITS",
        "retained": retain_commits,
        "earliestCommitToRetain": fence,
        "deleted": sorted(deleted),
    }
    # clean instants share the commit counter: next = max over ALL
    # timeline instants + 1 (a clean reusing a commit's instant time
    # would put two actions at one timeline position)
    all_instants = [
        f.split(".", 1)[0]
        for f in os.listdir(tl)
        if f.split(".", 1)[0].isdigit()
    ] + [a["instant"] for a in _archived_instants(tl)]
    width = max(len(i) for i in all_instants)
    nxt = max(int(i) for i in all_instants) + 1
    if len(str(nxt)) > width:
        raise ValueError(
            f"instant {nxt} overflows the timeline's {width}-digit naming"
        )
    with open(os.path.join(tl, f"{nxt:0{width}d}.clean"), "w") as fh:
        json.dump(meta, fh)
    return meta


def hudi_archive_timeline(base: str) -> list[str]:
    """Move completed commit instants strictly OLDER than the retention
    fence into ``archived/commits.archived`` (append-only JSONL).
    Refuses when no cleaner has run: archiving an uncleaned instant
    would strand live file slices that only it describes."""
    tl = _timeline_dir(base)
    fence = _retention_fence(tl)
    if fence is None:
        raise ValueError(
            "refusing to archive: no clean instant on the timeline — run "
            "the cleaner first so archived instants cannot describe the "
            "only copy of a live file slice"
        )
    # crash-atomic per instant: dedupe against what an earlier (possibly
    # crashed) run already archived, then remove each .commit IMMEDIATELY
    # after its archive line is durable. A crash between the flush and
    # the remove leaves the instant both archived and active; the dedupe
    # guard makes the re-run skip it instead of appending a duplicate
    # JSONL record — round-10 ADVICE fix.
    already = {a["instant"] for a in _archived_instants(tl)}
    for i in _completed_commits(tl):
        if i < fence and i in already:
            # crash aftermath: the archive line is durable but the active
            # file survived the interrupted run — finish the move without
            # re-appending (and without re-reporting it as newly moved)
            os.remove(os.path.join(tl, f"{i}.commit"))
    to_archive = [
        i for i in _completed_commits(tl) if i < fence and i not in already
    ]
    arch_dir = os.path.join(tl, "archived")
    os.makedirs(arch_dir, exist_ok=True)
    with open(os.path.join(arch_dir, "commits.archived"), "a") as fh:
        for i in to_archive:
            with open(os.path.join(tl, f"{i}.commit")) as cfh:
                meta = json.load(cfh)
            fh.write(
                json.dumps({"instant": i, "action": "commit", "meta": meta})
                + "\n"
            )
            fh.flush()
            os.fsync(fh.fileno())  # archive line durable before active goes
            os.remove(os.path.join(tl, f"{i}.commit"))
    return to_archive


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
    tl = _timeline_dir(base)
    # the four upserts' instants, wherever the timeline now keeps them
    instants = set(_completed_commits(tl))
    instants |= {a["instant"] for a in _archived_instants(tl)}
    return base, sorted(instants)


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
    if _retention_fence(_timeline_dir(base)) is None:
        hudi_clean(base, retain_commits=2)
    return hudi_fs_snapshot(spark, base)


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
    keeps i3, i4 — and the snapshot is UNCHANGED because state
    discovery is filesystem-based and archived instants still count as
    completed (group B's only slice, written by the now-archived i2,
    keeps serving). The stats row value-oracles the archived/active
    split, the fence, and the surviving row count."""
    base, _ = _build_cleaner_fixture(spark, sf_dir)
    tl = _timeline_dir(base)
    if _retention_fence(tl) is None:
        hudi_clean(base, retain_commits=2)
    if not _archived_instants(tl):
        hudi_archive_timeline(base)
    n_rows = hudi_fs_snapshot(spark, base).count()
    return spark.createDataFrame(
        [
            (
                len(_archived_instants(tl)),
                len(_completed_commits(tl)),
                _retention_fence(tl),
                n_rows,
            )
        ],
        "n_archived bigint, n_active_commits bigint, "
        "earliest_retained string, n_rows bigint",
    )
