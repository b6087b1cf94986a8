"""§2 round-4 batch BC — log-structured table format from first
principles.

Real table formats (the open Delta/Iceberg protocol idea) are absent from
this container, but their core contract is buildable from public
primitives: an ordered sequence of JSON transaction files, each holding
add/remove FILE actions; a snapshot at version V is the replay of actions
0..V; readers trust the LOG, never the directory listing (orphan files
from failed writers are invisible); time travel is replay-to-earlier-V.
This module implements exactly that contract over parquet parts —
completing the write-side two-phase-commit story
(`sink_python_datasource`) and the manifest-read story
(`scan_manifest_snapshot`) with versioned multi-transaction semantics.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table as t
from ..registry import query
from .sources import built


def _build_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Two-transaction table over nation:

    v0: add part-a (nationkey < 12, names suffixed '-old') + part-b (rest)
    v1: remove part-a, add part-c (nationkey < 12, true names)

    Plus an ORPHAN parquet file never named by any log entry — the debris
    a crashed writer leaves, which a log-driven reader must not see."""
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    parts = {
        "part-a": n.filter(F.col("n_nationkey") < 12).withColumn(
            "n_name", F.concat(F.col("n_name"), F.lit("-old"))
        ),
        "part-b": n.filter(F.col("n_nationkey") >= 12),
        "part-c": n.filter(F.col("n_nationkey") < 12),
        "orphan": n.limit(3).withColumn("n_name", F.lit("GARBAGE")),
    }
    for name, df in parts.items():
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, name))
    log_dir = os.path.join(base, "_log")
    os.makedirs(log_dir, exist_ok=True)
    txns = [
        [{"add": "part-a"}, {"add": "part-b"}],
        [{"remove": "part-a"}, {"add": "part-c"}],
    ]
    for v, actions in enumerate(txns):
        # temp-then-rename: a log entry appears atomically or not at all —
        # the same task-commit discipline as sink_python_datasource
        tmp = os.path.join(log_dir, f".tmp-{v:08d}.json")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        os.rename(tmp, os.path.join(log_dir, f"{v:08d}.json"))


def txnlog_live_files(base: str, version: int | None = None) -> list[str]:
    """Replay the transaction log up to ``version`` (None = latest) and
    return the live file set (relative part names, sorted). Replay is
    DRIVER-side on metadata only — the same replay every table-format
    driver performs."""
    log_dir = os.path.join(base, "_log")
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    live: set[str] = set()
    for v in versions:
        if version is not None and v > version:
            break
        with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    live.add(a["add"])
                if "remove" in a:
                    live.discard(a["remove"])
    return sorted(live)


def txnlog_snapshot(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Read exactly the live file set at ``version`` (None = latest);
    data stays distributed — only the action replay touches the driver."""
    paths = [os.path.join(base, p) for p in txnlog_live_files(base, version)]
    return spark.read.parquet(*paths)


@query(
    "scan_txnlog_snapshot",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_txnlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version snapshot of a log-structured table: two committed
    transactions (initial load, then an overwrite of one file) replayed
    from the ordered JSON action log; the second transaction's
    remove+add supersedes part-a, so the snapshot equals clean nation —
    the identity oracle. The directory ALSO contains an orphan parquet
    file named by no log entry (a crashed writer's debris) which the
    reader must ignore: reading the directory instead of the log would
    return garbage rows, which the oracle would catch. Time travel
    (version=0 shows the pre-overwrite '-old' rows) is pinned in
    tests/test_units_round4b.py. At 100 TB the replay cost is
    metadata-sized (actions, not rows) and the snapshot scan prunes to
    live files only — the entire point of log-structured formats."""
    base = built(sf_dir, "txnlog_table", partial(_build_fixture, spark, sf_dir))
    return txnlog_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "txnlog_compact_optimize",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def txnlog_compact_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format MAINTENANCE as a transaction (the OPTIMIZE/compaction
    every log-structured table needs once small files accumulate): read
    the current live file set, rewrite it as ONE compacted file, commit
    a remove-all+add-one transaction — and the snapshot is BYTE-
    identical before and after (the identity oracle certifies it), while
    time travel to every pre-compaction version still works (pinned in
    tests: v0 still shows the '-old' rows, v1 the pre-compaction set).
    Readers racing the compaction never see a torn state: they replay
    whatever log prefix existed when they listed it — the atomicity
    comes from the log, not from file locks. Compaction is idempotent
    here (re-runs detect the committed version and skip). At 100 TB
    compaction runs per partition with the same transaction shape, and
    the file-count reduction is what keeps listing + open() overhead
    off the read path (sink_compact_files' economics, now with
    versioned atomicity)."""

    def build(base: str) -> None:
        _build_fixture(spark, sf_dir, base)
        log_dir = os.path.join(base, "_log")
        live_parts = txnlog_live_files(base, 1)
        live_before = txnlog_snapshot(spark, base, 1)
        live_before.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, "part-compacted")
        )
        actions = [{"remove": p} for p in live_parts] + [{"add": "part-compacted"}]
        tmp = os.path.join(log_dir, ".tmp-00000002.json")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        os.rename(tmp, os.path.join(log_dir, f"{2:08d}.json"))

    base = built(sf_dir, "txnlog_table_compact", build)
    return txnlog_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


#: deterministic MERGE changeset against nation (the txn-log table):
#: update two names, delete one key, insert one new key.
_MERGE_UPDATES = {3: "updated-3", 7: "updated-7"}
_MERGE_DELETE = 11
_MERGE_INSERT = (990, "newland", 0)


@query(
    "merge_into_txnlog",
    oracle=f"""
    SELECT n_nationkey,
           CASE n_nationkey WHEN 3 THEN 'updated-3'
                            WHEN 7 THEN 'updated-7'
                            ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    WHERE n_nationkey <> {_MERGE_DELETE}
    UNION ALL
    SELECT {_MERGE_INSERT[0]}, '{_MERGE_INSERT[1]}', {_MERGE_INSERT[2]}
    """,
)
def merge_into_txnlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a table-format transaction — the copy-on-write
    upsert/delete every lakehouse ships (matched→update, matched→delete,
    not-matched→insert), here executed against the log-structured table:
    the changeset joins the CURRENT snapshot, only files CONTAINING
    affected keys are rewritten (copy-on-write file granularity — the
    untouched file survives verbatim, which is what bounds merge cost by
    touched-file bytes, not table bytes), and one remove+add transaction
    commits the swap atomically. Time travel to the pre-merge snapshot
    still works (pinned in tests). The merge logic itself is
    merge_upsert's keyed outer-join shape; what this lane adds is the
    VERSIONED ATOMICITY — readers see the old or the new table, never a
    half-merged directory. Oracle computes the same final state in pure
    SQL over nation + the literal changeset."""

    def build(base: str) -> None:
        _build_fixture(spark, sf_dir, base)
        log_dir = os.path.join(base, "_log")
        snap = txnlog_snapshot(spark, base, 1)
        changed_keys = sorted(_MERGE_UPDATES) + [_MERGE_DELETE]
        # copy-on-write: the live file set comes from LOG REPLAY (never a
        # directory listing or a hardcoded list), then only files actually
        # holding changed keys are rewritten
        live = txnlog_live_files(base, 1)
        affected = []
        for part in live:
            pdf = spark.read.parquet(os.path.join(base, part))
            if pdf.filter(F.col("n_nationkey").isin(changed_keys)).count() > 0:
                affected.append(part)
        upd = F.col("n_nationkey")
        name_expr = F.col("n_name")
        for k, v in _MERGE_UPDATES.items():
            name_expr = F.when(upd == k, F.lit(v)).otherwise(name_expr)
        rewritten = (
            spark.read.parquet(*[os.path.join(base, p) for p in affected])
            .filter(F.col("n_nationkey") != _MERGE_DELETE)
            .select("n_nationkey", name_expr.alias("n_name"), "n_regionkey")
        )
        inserts = spark.createDataFrame(
            [_MERGE_INSERT], schema="n_nationkey int, n_name string, n_regionkey int"
        ).select(
            F.col("n_nationkey").cast(
                dict(snap.dtypes)["n_nationkey"]
            ).alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast(
                dict(snap.dtypes)["n_regionkey"]
            ).alias("n_regionkey"),
        )
        rewritten.unionByName(inserts).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, "part-merged")
        )
        actions = [{"remove": p} for p in affected] + [{"add": "part-merged"}]
        tmp = os.path.join(log_dir, ".tmp-00000002.json")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        os.rename(tmp, os.path.join(log_dir, f"{2:08d}.json"))

    base = built(sf_dir, "txnlog_table_merge", build)
    return txnlog_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _build_mor_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Merge-on-read fixture: v0 adds the clean nation in two files; v1
    commits a DELETE SIDECAR (the keys of region-2 nations) without
    touching either data file — the write-cheap half of the CoW/MOR
    trade-off (merge_into_txnlog is the copy-on-write half)."""
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.filter(F.col("n_nationkey") < 12).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "part-a")
    )
    n.filter(F.col("n_nationkey") >= 12).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "part-b")
    )
    n.filter(F.col("n_regionkey") == 2).select("n_nationkey").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "del-0"))
    log_dir = os.path.join(base, "_log")
    os.makedirs(log_dir, exist_ok=True)
    txns = [
        [{"add": "part-a"}, {"add": "part-b"}],
        [{"delete": "del-0"}],
    ]
    for v, actions in enumerate(txns):
        tmp = os.path.join(log_dir, f".tmp-{v:08d}.json")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        os.rename(tmp, os.path.join(log_dir, f"{v:08d}.json"))


def txnlog_mor_state(base: str, version: int | None = None) -> tuple[list[str], list[str]]:
    """Replay add/remove/delete actions → (live data files, live delete
    sidecars). Driver-side metadata, same contract as txnlog_live_files."""
    log_dir = os.path.join(base, "_log")
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    live: set[str] = set()
    deletes: set[str] = set()
    for v in versions:
        if version is not None and v > version:
            break
        with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    live.add(a["add"])
                if "remove" in a:
                    live.discard(a["remove"])
                if "delete" in a:
                    deletes.add(a["delete"])
                if "undelete" in a:
                    deletes.discard(a["undelete"])
    return sorted(live), sorted(deletes)


def txnlog_mor_snapshot(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Merge-on-read read path: scan the live data files, anti-join the
    accumulated delete-key sidecars at read time."""
    live, deletes = txnlog_mor_state(base, version)
    df = spark.read.parquet(*[os.path.join(base, p) for p in live])
    if deletes:
        dk = spark.read.parquet(*[os.path.join(base, p) for p in deletes])
        df = df.join(F.broadcast(dk), "n_nationkey", "left_anti")
    return df


def txnlog_mor_compact(spark: SparkSession, base: str) -> None:
    """Fold the delete sidecars into the data (the MOR → clean-files
    compaction): rewrite live files minus deleted keys as one compacted
    file, then commit remove(old adds) + undelete(sidecars) +
    add(compacted) atomically — after which the read path needs no
    anti-join (asserted in tests)."""
    live, deletes = txnlog_mor_state(base)
    compacted = txnlog_mor_snapshot(spark, base)
    out = os.path.join(base, "compact-0")
    compacted.coalesce(1).write.mode("overwrite").parquet(out)
    log_dir = os.path.join(base, "_log")
    versions = [
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    ]
    v = max(versions) + 1
    actions = (
        [{"remove": p} for p in live]
        + [{"undelete": p} for p in deletes]
        + [{"add": "compact-0"}]
    )
    tmp = os.path.join(log_dir, f".tmp-{v:08d}.json")
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    os.rename(tmp, os.path.join(log_dir, f"{v:08d}.json"))


@query(
    "txnlog_merge_on_read",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey != 2
    """,
)
def txnlog_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletes for the log-structured table — the other
    half of the CoW/MOR trade-off (merge_into_txnlog rewrites affected
    files at WRITE time; this lane commits a delete-key SIDECAR and
    applies it at READ time with a broadcast anti-join). This is the
    deletion-vector shape every modern table format ships (Delta DVs,
    Iceberg positional/equality deletes, Hudi MOR): deletes cost one
    kilobyte-scale sidecar write however large the table, reads pay a
    broadcast anti-join until compaction folds the sidecars into clean
    files (txnlog_mor_compact — pinned equal and sidecar-free in
    tests). At 100 TB the sidecar is the only way a sub-second DELETE
    exists at all; the read-path anti-join broadcasts because delete
    sets are bounded between compactions by compaction policy."""
    base = built(sf_dir, "txnlog_mor", partial(_build_mor_fixture, spark, sf_dir))
    return txnlog_mor_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
