"""§2 round-10 batch GD — ref-aware snapshot expiry.

``iceberg_expire_snapshots`` (batch S) retains the newest K snapshots
and protects the CURRENT one — but a table with BRANCHES and TAGS
(batches EF/FV) has more roots: expiring a snapshot a tag pins (an
audit freeze, a reproducibility anchor) or a branch head (staged WAP
work) silently breaks every reader addressing it by ref. The spec's
expiry therefore works ref-first, and this batch implements that
contract:

1. **Ref aging first**: a ref whose ``max-ref-age-ms`` has elapsed
   (measured from its snapshot's timestamp to the table's latest
   commit timestamp — monotonic table time, not wall clock) is
   REMOVED; its snapshots thereby lose protection. Refs without the
   property never age out ('main' included).
2. **Protected set**: the current snapshot, every surviving ref's
   target, and the newest ``keep_last`` by sequence number.
3. Everything else expires — same put-if-absent metadata commit as
   every writer, orphan cleanup reclaims the files later.

Key ``iceberg_expire_ref_protected``: a four-append table where a tag
pins snapshot 1002, a branch holds 1003, and an AGED tag pins 1001;
expiry with keep_last=1 removes the aged tag, expires exactly 1001,
and keeps 1002 (tag) + 1003 (branch) + 1004 (current/main) — the
snapshot a naive newest-K policy would have dropped (1002 with
keep_last=1) survives BECAUSE of its ref. Identity oracle on the
current read; the protection/aging/refusal pins live in tests.

Scale: pure metadata (one JSON rewrite), O(snapshots + refs) driver
work at any table size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..registry import query
from .iceberg_reader import _tip, iceberg_append, iceberg_snapshot
from .iceberg_reader import commit as iceberg_commit
from .sources import built


def iceberg_expire_snapshots_refs(
    base: str, keep_last: int
) -> tuple[int, list[int], list[str]]:
    """Ref-aware expiry. Returns (new metadata version, expired
    snapshot ids, removed ref names). Refuses when expiry would drop
    the current snapshot (keep_last < 1 guards that trivially). The
    commit is read-dependent: a concurrent commit aborts the expiry."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cur_v, md = _tip(os.path.join(base, "metadata"))
    snaps = sorted(md.get("snapshots", []), key=lambda s: s["sequence-number"])
    by_id = {s["snapshot-id"]: s for s in snaps}
    table_now = max(s["timestamp-ms"] for s in snaps)
    refs = dict(md.get("refs", {}))
    removed_refs = []
    for name, ref in sorted(refs.items()):
        age_cap = ref.get("max-ref-age-ms")
        target = by_id.get(ref["snapshot-id"])
        if target is None:
            raise ValueError(
                f"ref {name!r} points at unknown snapshot "
                f"{ref['snapshot-id']} — refusing to expire on a corrupt "
                "refs map"
            )
        if age_cap is not None and table_now - target["timestamp-ms"] > age_cap:
            removed_refs.append(name)
    for name in removed_refs:
        del refs[name]
    protected = {md.get("current-snapshot-id")}
    protected |= {r["snapshot-id"] for r in refs.values()}
    protected |= {s["snapshot-id"] for s in snaps[-keep_last:]}
    kept = [s for s in snaps if s["snapshot-id"] in protected]
    expired = [
        s["snapshot-id"] for s in snaps if s["snapshot-id"] not in protected
    ]
    new_md = dict(md)
    new_md["snapshots"] = kept
    new_md["refs"] = refs
    v = iceberg_commit(base, lambda _v, _prev: new_md, cur_v)
    return v, expired, removed_refs


def _build_refs_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Four appends (snapshots 1001..1004; the writer's monotonic
    table clock ticks 1 ms per commit), then a refs map: 'main' at
    1004, branch 'audit' at 1003, durable tag 'eoy' at 1002, and tag
    'tmp' at 1001 with max-ref-age-ms 2 — aged out by table-now
    (1004's timestamp, 3 ms of table time later)."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    iceberg_append(spark, base, n.filter("n_nationkey < 7"), "b0.parquet")
    iceberg_append(
        spark, base, n.filter("n_nationkey >= 7 AND n_nationkey < 12"),
        "b1.parquet",
    )
    iceberg_append(
        spark, base, n.filter("n_nationkey >= 12 AND n_nationkey < 19"),
        "b2.parquet",
    )
    iceberg_append(spark, base, n.filter("n_nationkey >= 19"), "b3.parquet")
    refs = {
        "main": {"snapshot-id": 1004, "type": "branch"},
        "audit": {"snapshot-id": 1003, "type": "branch"},
        "eoy": {"snapshot-id": 1002, "type": "tag"},
        "tmp": {"snapshot-id": 1001, "type": "tag",
                "max-ref-age-ms": 2},
    }
    iceberg_commit(base, lambda _v, md: {**md, "refs": refs})


@query(
    "iceberg_expire_ref_protected",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def iceberg_expire_ref_protected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref-aware expiry round-trip: keep_last=1 on the four-snapshot
    refs fixture removes the aged 'tmp' tag, expires EXACTLY 1001, and
    keeps 1002/1003/1004 under their refs — the current read stays
    bit-identical (identity oracle). Tag protection, branch
    protection, ref aging, expired-time-travel refusal, and the
    corrupt-refs refusal are pinned in tests/test_surface57.py."""

    def build(base: str) -> None:
        _build_refs_fixture(spark, sf_dir, base)
        _, expired, removed = iceberg_expire_snapshots_refs(base, keep_last=1)
        if expired != [1001] or removed != ["tmp"]:
            raise AssertionError(
                f"expiry picked expired={expired} removed={removed}"
            )

    base = built(sf_dir, "iceberg_refs_expire", build)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
