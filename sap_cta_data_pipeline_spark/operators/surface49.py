"""§2 round-9 batch FV — write-audit-publish on Iceberg branches.

``iceberg_wap_publish``: the WAP deployment workflow — THE
data-quality gate pattern on Iceberg tables: a staging append commits
its snapshot bound to an ``audit`` BRANCH (refs map entry; main and
current-snapshot-id untouched), production readers keep seeing the
pre-stage state, a validation query runs against the branch ref, and
only a PASSING audit fast-forwards main to the staged snapshot — a
pure metadata commit. A failing audit leaves main untouched forever
(the staged snapshot stays reachable via its branch for debugging and
expires with retention). Completes the refs story (batch EF bound
tags/branches for time travel; this writes THROUGH them).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .iceberg_reader import (
    _entry,
    _manifest,
    _manifests,
    _next_ids,
    _snapshot,
    _tip,
    commit as iceberg_commit,
    iceberg_append,
    iceberg_snapshot,
)
from .sources import built


def iceberg_append_to_branch(
    spark: SparkSession, base: str, df: DataFrame, file_name: str, branch: str
) -> int:
    """Stage an append ONTO A BRANCH: the new snapshot's manifest list
    extends the branch parent's (refs[branch], falling back to main's
    tip), refs[branch] moves to the new snapshot, and — the WAP
    contract — ``current-snapshot-id`` and refs['main'] stay EXACTLY
    where they were, so unqualified readers never see staged data. A
    lost commit slot rebuilds the snapshot on the fresh tip. Returns the
    committed metadata version."""
    from .lakehouse_interop import _stage_single_parquet

    data_path = os.path.join(base, "data", file_name)
    os.makedirs(os.path.dirname(data_path), exist_ok=True)
    _stage_single_parquet(df, data_path)
    n_rows = df.count()

    def build(_cur_v: int, md: dict) -> dict:
        refs = dict(md.get("refs", {}))
        if branch in refs:
            parent_id = refs[branch]["snapshot-id"]
        else:
            # Fork from the table's CURRENT tip: ordinary appends advance
            # current-snapshot-id without touching refs['main'], so the ref
            # can be stale — current-snapshot-id is authoritative.
            parent_id = md["current-snapshot-id"]
        seq, snap_id = _next_ids(md)
        m = _manifest(
            base, md, f"m-wap-{snap_id}.avro",
            [_entry(base, file_name, 0, n_rows, seq=seq)], 0, snap_id, seq,
        )
        out = _snapshot(
            base,
            md,
            _manifests(base, md, parent_id) + [m],
            "append",
            **{
                "parent-snapshot-id": parent_id,
                "summary": {"operation": "append", "wap.branch": branch},
            },
        )
        refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
        # the WAP contract: current-snapshot-id and refs['main'] untouched
        return {
            **out,
            "current-snapshot-id": md["current-snapshot-id"],
            "refs": refs,
        }

    return iceberg_commit(base, build)


def iceberg_fast_forward(
    spark: SparkSession, base: str, from_branch: str, to_branch: str = "main"
) -> int:
    """PUBLISH: fast-forward ``to_branch`` (and, for main, the table's
    current-snapshot-id) to ``from_branch``'s snapshot — pure metadata,
    no file is touched. Refuses when the source ref is unknown, and —
    the fast-forward contract — when ``to_branch`` has ADVANCED past
    the staged lineage (the staged snapshot's ancestry must contain the
    target ref's current snapshot; otherwise publishing would silently
    DROP the concurrent commits, and the correct verb is a cherry-pick
    that re-applies the staged changes on the new tip). The commit is
    read-dependent: a concurrent commit aborts the publish."""
    meta_dir = os.path.join(base, "metadata")
    cur_v, md = _tip(meta_dir)
    refs = dict(md.get("refs", {}))
    if from_branch not in refs:
        raise ValueError(
            f"fast-forward: unknown branch {from_branch!r} (have {sorted(refs)})"
        )
    target = refs[from_branch]["snapshot-id"]
    parents = {s["snapshot-id"]: s.get("parent-snapshot-id")
               for s in md["snapshots"]}

    def _is_ancestor(tip: int) -> bool:
        anc, seen = target, set()
        while anc is not None and anc not in seen:
            if anc == tip:
                return True
            seen.add(anc)
            anc = parents.get(anc)
        return False

    # Every authoritative tip of the publish target must sit in the
    # staged lineage. For main that includes current-snapshot-id —
    # ordinary appends advance it WITHOUT updating refs['main'], so a
    # refs-only check would silently drop those concurrent commits.
    tips = {}
    if to_branch in refs:
        tips[f"refs[{to_branch!r}]"] = refs[to_branch]["snapshot-id"]
    if to_branch == "main" and md.get("current-snapshot-id") is not None:
        tips["current-snapshot-id"] = md["current-snapshot-id"]
    for label, cur_tip in tips.items():
        if not _is_ancestor(cur_tip):
            raise ValueError(
                f"fast-forward: {to_branch!r} ({label} = snapshot "
                f"{cur_tip}) is not an ancestor of {from_branch!r} "
                f"(snapshot {target}) — the target advanced since "
                "staging; re-apply the staged changes on the new tip "
                "(cherry-pick) instead of dropping its commits"
            )
    md = dict(md)
    refs[to_branch] = {"snapshot-id": target, "type": "branch"}
    md["refs"] = refs
    if to_branch == "main":
        md["current-snapshot-id"] = target
    return iceberg_commit(base, lambda _v, _prev: md, cur_v)


@query(
    "iceberg_wap_publish",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def iceberg_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish round-trip: batch 1 lands on main; batch 2
    STAGES onto the 'audit' branch (main still serves batch 1 — pinned
    in tests); the audit validates the branch (row count + no NULL
    keys) by reading THROUGH the ref; the passing audit fast-forwards
    main. The identity oracle certifies the published table; the
    staged-invisible, failed-audit-no-publish, and
    publish-is-metadata-only properties are pinned in tests.

    Scale: staging costs exactly an append; audit is any read at branch
    scope; publish is one metadata swap — which is why WAP is the
    standard quality gate at 100 TB (no copy, no rewrite, atomic
    cutover, instant rollback by moving the ref back)."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "b0.parquet")
        # bind the explicit main ref at the pre-stage tip
        iceberg_commit(
            base,
            lambda _v, md: {
                **md,
                "refs": {
                    "main": {
                        "snapshot-id": md["current-snapshot-id"],
                        "type": "branch",
                    }
                },
            },
        )
        iceberg_append_to_branch(
            spark, base, n.filter("n_nationkey >= 12"), "b1.parquet", "audit"
        )
        # AUDIT: validate the staged branch before anyone sees it
        from .surface26 import iceberg_snapshot_by_ref

        staged = iceberg_snapshot_by_ref(spark, base, "audit")
        # Explicit raises, not asserts: the gate must hold under -O too.
        null_keys = staged.filter(F.col("n_nationkey").isNull()).count()
        if null_keys != 0:
            raise ValueError(f"WAP audit failed: {null_keys} NULL keys staged")
        if staged.count() != n.count():
            raise ValueError("WAP audit failed: staged row count mismatch")
        iceberg_fast_forward(spark, base, "audit")

    base = built(sf_dir, "iceberg_wap", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
