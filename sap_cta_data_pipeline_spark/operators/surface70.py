"""§2 round-12 batch GT — streaming Delta MERGE sink + the end-to-end
streaming replication loop (Iceberg changelog → Delta target).

Round-12 batches GM–GR built every piece of the CDC story: the Iceberg
keyed MERGE (GM), the changelog streaming source (GO), the Iceberg/Hudi
streaming sinks (GR). What no key exercised yet is the COMPOSITION a
production pipeline actually runs — a continuous stream of row-level
changes applied to a transactional target with exactly-once semantics:

- ``stream_delta_merge_sink`` — streaming UPSERT into Delta through
  foreachBatch + ``delta_merge_into``, exactly-once via SetTransaction:
  every merge commit carries a ``txn`` {appId, version=batchId} action
  and the batch applier skips any batch id at-or-below the recorded
  high-water mark (``delta_last_txn_version``). This is the missing
  write shape between ``stream_delta_append_sink`` (blind appends) and
  ``sink_delta_idempotent_txn`` (batch-driven txn appends): a replayed
  micro-batch that UPDATES rows cannot be made idempotent by the
  put-if-absent version slot alone — re-merging identical values would
  CONVERGE but re-merging a non-idempotent update (value += x) would
  not, so the txn guard, not effect-idempotence, carries once-ness.
- ``stream_replicate_iceberg_to_delta`` — the full loop: the batch-GO
  changelog tail reads an Iceberg table's INSERT/DELETE windows, each
  micro-batch NETS its change rows per key (latest snapshot wins;
  within one snapshot a rewrite's INSERT postimage outranks its DELETE
  preimage) and applies them through ONE keyed MERGE with the delete
  branch, txn-stamped with the batch id. Batch 0 bootstraps the target
  from the netted inserts. A checkpoint restart drains ONLY the
  post-stop windows (pinned), so the Delta replica converges to the
  Iceberg state by construction — identity-oracled end to end.

Scale: per micro-batch cost is the WINDOW's change volume (the
changelog plan scans only changed files — batch GA), one keyed shuffle
for the netting, and matched-file rewrites bounded by the files the
changed keys live in (the delta_merge_into contract). The txn check is
an O(commits) driver metadata replay. Nothing in the loop touches
table-sized state, which is what makes continuous replication of a
100 TB table viable: the table prices the BOOTSTRAP, the windows price
the steady state.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .delta_dml import delta_merge_into
from .delta_reader import delta_snapshot
from .lakehouse_interop import delta_append_commit
from .sources import _scratch, built
from .surface26 import delta_last_txn_version


def delta_merge_batch_once(
    spark: SparkSession,
    base: str,
    bdf: DataFrame,
    batch_id: int,
    on: str,
    update_cols: list[str],
    app_id: str,
    delete_col: str | None = None,
) -> bool:
    """Apply one micro-batch as an exactly-once keyed MERGE: skip
    (return False) when ``batch_id`` is at-or-below the recorded
    SetTransaction high-water mark for ``app_id``; otherwise MERGE with
    the txn action riding the commit (return True). Batch 0 against a
    not-yet-existing table CREATES it from the batch's upsert rows
    (flagged deletes dropped — at bootstrap they can only reference
    keys that never existed, the SQL MERGE no-op rule)."""
    last = delta_last_txn_version(spark, base, app_id)
    if last is not None and last >= batch_id:
        return False  # replayed batch: already committed
    if not os.path.isdir(os.path.join(base, "_delta_log")):
        create = (
            bdf
            if delete_col is None
            else bdf.filter(~F.col(delete_col)).drop(delete_col)
        )
        delta_append_commit(
            spark,
            base,
            create,
            f"stream-{batch_id:05d}.parquet",
            first=True,
            extra_actions=[
                {"txn": {"appId": app_id, "version": int(batch_id)}}
            ],
        )
        return True
    delta_merge_into(
        spark,
        base,
        bdf,
        on,
        update_cols,
        delete_col=delete_col,
        txn=(app_id, int(batch_id)),
    )
    return True


def _staged_merge_chunks(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Three ORDERED parquet chunks of the user_id%13 events slice:
    chunk 0 = low event_id half, chunk 1 = high half, chunk 2 = an
    UPDATE wave re-sending every user_id%26 row with value+1000. The
    file source orders new files by modification time, so the chunks
    carry explicit ascending mtimes — the update wave must land after
    the rows it updates."""

    def build(stage_dir: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") % 13 == 0)
            .select(
                "event_id", "user_id", "event_type",
                F.round("value", 2).alias("value"),
            )
        )
        mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
        chunks = [
            ev.where(F.col("event_id") < mid),
            ev.where(F.col("event_id") >= mid),
            ev.where(F.col("user_id") % 26 == 0).withColumn(
                "value", F.col("value") + F.lit(1000.0)
            ),
        ]
        for i, c in enumerate(chunks):
            c.coalesce(1).write.mode("overwrite").parquet(
                f"{stage_dir}/chunk={i}"
            )
            t = 1_700_000_000 + i * 3600
            for root, _dirs, files in os.walk(f"{stage_dir}/chunk={i}"):
                for f in files:
                    os.utime(os.path.join(root, f), (t, t))

    stage_dir = built(sf_dir, "delta_merge_stream_src", build)
    return stage_dir, spark.read.parquet(f"{stage_dir}/chunk=0").schema


@query(
    "stream_delta_merge_sink",
    oracle="""
    SELECT event_id, user_id, event_type,
           round(value, 2)
             + CASE WHEN user_id % 26 = 0 THEN 1000 ELSE 0 END AS value
    FROM events WHERE user_id % 13 = 0
    """,
)
def stream_delta_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT into Delta: three micro-batches (low half, high
    half, then an UPDATE wave re-sending the user_id%26 rows with
    value+1000) land through foreachBatch + ``delta_merge_batch_once``
    — batch 0 creates the table, batch 1 inserts (no matches), batch 2
    rewrites exactly the matched files, every commit txn-stamped with
    its batch id. The update is NON-idempotent (+1000), which is the
    point: replaying it would corrupt the table, and the SetTransaction
    guard — pinned by a deliberate replay in tests/test_surface70.py —
    is what makes the sink exactly-once rather than merely convergent.
    The identity oracle certifies the final merged state end to end."""
    stage_dir, schema = _staged_merge_chunks(spark, sf_dir)

    def build(table: str) -> None:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage_dir}/chunk=*")
        )
        q = (
            src.writeStream.foreachBatch(
                lambda bdf, bid: delta_merge_batch_once(
                    spark, table, bdf, bid,
                    "event_id", ["user_id", "event_type", "value"],
                    "merge-sink",
                )
            )
            .option("checkpointLocation", os.path.join(table, "_stream_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    table = built(sf_dir, "delta_merge_stream_sink", build)
    return delta_snapshot(spark, table).select(
        "event_id", "user_id", "event_type", "value"
    )


# ------------------------------------------- the full replication loop


def replicate_changelog_batch(
    spark: SparkSession, tgt: str, bdf: DataFrame, batch_id: int, app_id: str
) -> bool:
    """Net one changelog micro-batch per key and apply it as ONE keyed
    MERGE with the delete branch. Ranking: latest commit_snapshot_id
    wins; within one snapshot an INSERT (rewrite postimage) outranks
    the DELETE preimage of the same key; a key whose LAST change is a
    DELETE nets to a flagged delete. Exactly the net_changes rule the
    batch-GL window key proves for windows — here applied per batch."""
    w = Window.partitionBy("n_nationkey").orderBy(
        F.col("commit_snapshot_id").desc(), F.col("__r").desc()
    )
    net = (
        bdf.withColumn(
            "__r", F.when(F.col("change_type") == "INSERT", 1).otherwise(0)
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn("__del", F.col("change_type") == "DELETE")
        .select("n_nationkey", "n_name", "n_regionkey", "__del")
    )
    return delta_merge_batch_once(
        spark, tgt, net, batch_id,
        "n_nationkey", ["n_name", "n_regionkey"],
        app_id, delete_col="__del",
    )


@query(
    "stream_replicate_iceberg_to_delta",
    oracle="""
    SELECT n_nationkey, n_name,
           n_regionkey + CASE WHEN n_nationkey < 5 THEN 10 ELSE 0 END
             AS n_regionkey
    FROM nation WHERE n_nationkey % 3 <> 0
    """,
)
def stream_replicate_iceberg_to_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END STREAMING REPLICATION: an Iceberg source absorbs two
    appends, a keyed CoW MERGE (n_regionkey+10 for keys<5), and a
    position-delete (keys%3=0); the batch-GO changelog tail streams the
    windows and every micro-batch nets + MERGEs into a Delta replica
    (``replicate_changelog_batch``). The stream runs TWICE against one
    checkpoint — drain appends, STOP, commit the merge+delete, drain
    again — so the restart provably applies only the post-stop windows
    (exactly 2 target commits, pinned). The netting exercises every
    rule: a rewrite's carried rows net to same-value upserts, updated
    keys net to postimage upserts, keys 0/3 are updated THEN deleted
    across snapshots and net to flagged deletes. Final Delta state ==
    final Iceberg state, identity-oracled."""
    from .iceberg_reader import iceberg_append, iceberg_delete_where
    from .surface63 import iceberg_merge_into
    from .surface65 import _make_changelog_tail_datasource

    src_tbl = _scratch(sf_dir, "ice_repl_src")

    def build(tgt: str) -> None:
        shutil.rmtree(src_tbl, ignore_errors=True)
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        iceberg_append(spark, src_tbl, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, src_tbl, n.filter("n_nationkey >= 12"), "a1.parquet")

        spark.dataSource.register(_make_changelog_tail_datasource())
        ckpt = os.path.join(tgt, "_stream_ckpt")

        def _drain() -> None:
            q = (
                spark.readStream.format("iceberg_changelog_tail")
                .option("path", src_tbl)
                .load()
                .writeStream.foreachBatch(
                    lambda bdf, bid: replicate_changelog_batch(
                        spark, tgt, bdf, bid, "repl-sink"
                    )
                )
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        _drain()  # batch 0: the two append windows -> bootstrap inserts
        upd = n.filter("n_nationkey < 5").withColumn(
            "n_regionkey", F.col("n_regionkey") + F.lit(10)
        )
        iceberg_merge_into(
            spark, src_tbl, upd, "n_nationkey", ["n_regionkey"]
        )
        iceberg_delete_where(spark, src_tbl, "n_nationkey % 3 = 0")
        _drain()  # batch 1: ONLY the merge + delete windows (pinned)

    tgt = built(sf_dir, "delta_repl_tgt", build)
    return delta_snapshot(spark, tgt).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
