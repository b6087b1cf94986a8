"""§2 round-8 batch EF — exactly-once Delta writes (SetTransaction) +
Iceberg named refs (branches/tags).

- ``sink_delta_idempotent_txn``: Delta's idempotent-writer protocol —
  every commit carries a ``txn`` action {appId, version}; before
  writing, the writer replays the log for appId's highest recorded
  version and SKIPS the commit if it has already been applied. This is
  what makes foreachBatch exactly-once: a replayed micro-batch (same
  batchId after a crash) becomes a no-op instead of a duplicate. The
  lane replays a batch on purpose and hash-matches the identity oracle.
- ``scan_iceberg_ref_tag``: Iceberg named references — the metadata
  ``refs`` map binds branch/tag NAMES to snapshot ids ("main" is just a
  branch). Time travel by name is how audits pin a snapshot ("read tag
  q3-close") without carrying numeric ids around; the reader resolves
  ref → snapshot-id → the ordinary snapshot scan.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..registry import query
from .delta_reader import _tip, delta_snapshot, log_state
from .iceberg_reader import _load_metadata, iceberg_append, iceberg_snapshot
from .iceberg_reader import commit as iceberg_commit
from .lakehouse_interop import delta_append_commit
from .sources import built


def delta_last_txn_version(
    spark: SparkSession, base: str, app_id: str
) -> int | None:
    """The latest ``txn.version`` recorded for ``app_id`` (None: none, or
    no table yet) — the read half of the SetTransaction protocol (Delta
    PROTOCOL.md 'Transaction Identifiers'); a checkpoint carries each
    appId's latest txn, so the answer survives log retention."""
    if _tip(base) < 0:
        return None
    return log_state(spark, base).txns.get(app_id)


def delta_txn_write(
    spark: SparkSession,
    base: str,
    df: DataFrame,
    file_name: str,
    app_id: str,
    txn_version: int,
    first: bool = False,
) -> bool:
    """Idempotent append: skip (return False) when ``txn_version`` for
    ``app_id`` is already recorded; otherwise commit the data file WITH
    the txn action and return True. The version check + put-if-absent
    commit is the whole exactly-once story — no distributed state."""
    last = delta_last_txn_version(spark, base, app_id)
    if last is not None and last >= txn_version:
        return False
    delta_append_commit(
        spark,
        base,
        df,
        file_name,
        first=first,
        extra_actions=[{"txn": {"appId": app_id, "version": txn_version}}],
    )
    return True


@query(
    "sink_delta_idempotent_txn",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_delta_idempotent_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest via SetTransaction: nation lands in two
    app-tagged batches (appId='ingest', versions 0 and 1), then batch 1
    is REPLAYED verbatim — the crash-recovery case foreachBatch
    produces — and the writer skips it because the log already records
    ('ingest', 1). The identity oracle proves no duplicate rows; the
    skip itself, cross-app independence, and the recorded txn actions
    are pinned in tests.

    Scale: the idempotency check is an O(commits) driver log replay
    (bounded by retention + checkpoints like every replay); no data is
    read — which is why Delta streaming sinks are exactly-once at any
    table size for the price of a metadata scan."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        lo, hi = n.filter("n_nationkey < 12"), n.filter("n_nationkey >= 12")
        assert delta_txn_write(spark, base, lo, "b0.parquet", "ingest", 0, first=True)
        assert delta_txn_write(spark, base, hi, "b1.parquet", "ingest", 1)
        # the replay: same app, same version -> MUST be a no-op
        assert not delta_txn_write(spark, base, hi, "b1-replay.parquet", "ingest", 1)

    base = built(sf_dir, "delta_txn_sink", build)
    return delta_snapshot(spark, base)


# ----------------------------------------------------- Iceberg named refs


def iceberg_snapshot_by_ref(
    spark: SparkSession, base: str, ref: str
) -> DataFrame:
    """Resolve a named reference (branch or tag) from the metadata
    ``refs`` map to its snapshot id and read that snapshot — Iceberg's
    time travel by NAME (`VERSION AS OF 'tag'`). Unknown refs fail
    loudly with the known names."""
    meta = _load_metadata(base)
    refs = meta.get("refs", {})
    if ref not in refs:
        raise ValueError(
            f"unknown Iceberg ref {ref!r} (have {sorted(refs)})"
        )
    return iceberg_snapshot(spark, base, snapshot_id=refs[ref]["snapshot-id"])


def _ref_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        # bind refs: main -> current, audit tag -> the first snapshot
        def bind_refs(_v: int, md: dict) -> dict:
            snaps = sorted(s["snapshot-id"] for s in md["snapshots"])
            return {
                **md,
                "refs": {
                    "main": {"snapshot-id": snaps[-1], "type": "branch"},
                    "pre-second-append": {"snapshot-id": snaps[0], "type": "tag"},
                },
            }

        iceberg_commit(base, bind_refs)

    return built(sf_dir, "iceberg_refs", build)


@query(
    "scan_iceberg_ref_tag",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey < 12
    """,
)
def scan_iceberg_ref_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel by NAME: the table's metadata ``refs`` map carries
    the implicit 'main' branch plus a 'pre-second-append' TAG pinned to
    the first snapshot; reading the tag returns the first batch only —
    no numeric snapshot id anywhere in the query. Branch 'main' reads
    the full table and unknown refs refuse loudly (both pinned). Refs
    are how audit/reproducibility workflows address data ("the Q3-close
    tag"), and retention treats tagged snapshots as roots.

    Scale: ref resolution is one metadata lookup; everything after is
    the ordinary snapshot scan with its O(manifest) planning."""
    base = _ref_fixture(spark, sf_dir)
    return iceberg_snapshot_by_ref(spark, base, "pre-second-append").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
