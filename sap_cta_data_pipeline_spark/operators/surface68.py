"""§2 round-12 batch GR — streaming SINKS for Iceberg and Hudi.

The K-family had streaming READS for all three formats (snapshot /
changelog / CDF / incremental tails) but a streaming WRITE only for
Delta (``stream_delta_append_sink``). These are the missing sink twins,
same foreachBatch shape — exactly how Structured Streaming writes
transactional sinks the source has no native connector for:

- ``stream_iceberg_append_sink`` — each micro-batch stages one data
  file NAMED BY ITS BATCH ID and commits one Iceberg snapshot through
  the put-if-absent metadata swap. Exactly-once is the batch-id file
  acting as the transaction marker: a replayed batch finds its file
  already referenced by the current state and commits NOTHING (the
  same role Delta's txnAppId/txnVersion plays; the raw append writer
  retries at the tip, so the guard — not the swap alone — carries
  idempotence, pinned by double-committing a batch).
- ``stream_hudi_upsert_sink`` — each micro-batch upserts into the CoW
  table keyed on the record key. The guarantee is EFFECT idempotence:
  a replayed batch re-upserts identical values and the snapshot
  converges (the timeline records the extra instant — Hudi's own
  recovery shape; byte-exact once-ness would need the batch id in the
  instant metadata, which the docstring names as the swap).

Scale: per micro-batch cost is the batch's own volume (one staged file
+ one metadata swap for Iceberg; hit-group rewrites for Hudi CoW —
upsert volume prices it). The commit path is the same code the batch
writers use, so every refusal/validation lane holds under streaming.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .sources import built


def _staged_event_chunks(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, object]:
    """Three deterministic event_id-tercile parquet chunks of the
    user_id%13 slice (the Delta sink's fixture shape) + their schema."""

    def build(stage_dir: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") % 13 == 0)
            .select(
                "event_id", "user_id", "event_type",
                F.round("value", 2).alias("value"),
            )
        )
        n = ev.count()
        ids = [r[0] for r in ev.select("event_id").orderBy("event_id").collect()]
        cuts = [ids[0], ids[n // 3], ids[2 * n // 3], ids[-1] + 1]
        for i in range(3):
            (
                ev.where(
                    (F.col("event_id") >= cuts[i])
                    & (F.col("event_id") < cuts[i + 1])
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{stage_dir}/chunk={i}")
            )

    stage_dir = built(sf_dir, name, build)
    return stage_dir, spark.read.parquet(f"{stage_dir}/chunk=0").schema


def _drain(src, commit, ckpt: str) -> None:
    q = (
        src.writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


_SINK_ORACLE = """
    SELECT event_id, user_id, event_type, round(value, 2) AS value
    FROM events WHERE user_id % 13 = 0
    """


def iceberg_append_batch_once(
    spark: SparkSession, table: str, bdf: DataFrame, batch_id: int
) -> bool:
    """Idempotent micro-batch append: the batch-id-named data file is
    the transaction marker — if the current state already references
    it, the batch was committed before the failure and this replay is a
    no-op (returns False). Otherwise one append commit (returns True).
    The check is metadata-only (file paths from the manifests)."""
    from .iceberg_reader import iceberg_append, iceberg_state

    rel = f"stream-{batch_id:05d}.parquet"
    if os.path.isdir(os.path.join(table, "metadata")):
        _, files, _, _ = iceberg_state(table)
        if any(os.path.basename(f["path"]) == rel for f in files):
            return False  # replayed batch: already committed
    iceberg_append(spark, table, bdf, rel)
    return True


@query("stream_iceberg_append_sink", oracle=_SINK_ORACLE)
def stream_iceberg_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into ICEBERG (the Delta sink's missing twin): a
    3-micro-batch file stream lands through foreachBatch, each batch
    one batch-id-named data file + one snapshot via the put-if-absent
    metadata swap (batch 0 creates the table); a REPLAYED batch finds
    its file already referenced and commits nothing (module docstring —
    the txn-marker guard, pinned by double-commit). The repo's own
    snapshot reader answers the identity oracle end to end."""
    from .iceberg_reader import iceberg_snapshot

    stage_dir, schema = _staged_event_chunks(spark, sf_dir, "ice_stream_src")

    def build(table: str) -> None:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage_dir}/chunk=*")
        )
        _drain(
            src,
            lambda bdf, bid: iceberg_append_batch_once(spark, table, bdf, bid),
            os.path.join(table, "_stream_ckpt"),
        )

    table = built(sf_dir, "iceberg_append_sink_tbl", build)
    return iceberg_snapshot(spark, table).select(
        "event_id", "user_id", "event_type", "value"
    )


@query("stream_hudi_upsert_sink", oracle=_SINK_ORACLE)
def stream_hudi_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT ingest into HUDI CoW: each micro-batch upserts
    keyed on event_id through the CoW writer (batch 0 creates the
    table; later batches' unseen keys land as fresh file groups — the
    streaming-append special case of upsert). A replayed batch
    re-upserts identical values and the snapshot CONVERGES (effect
    idempotence — pinned by re-running a batch and asserting the
    snapshot hash); byte-exact once-ness would carry the batch id into
    the instant metadata. The snapshot reader answers the identity
    oracle end to end."""
    from .hudi_write import hudi_cow_upsert
    from .lakehouse_interop import hudi_cow_snapshot

    stage_dir, schema = _staged_event_chunks(spark, sf_dir, "hudi_stream_src")

    def build(table: str) -> None:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage_dir}/chunk=*")
        )
        _drain(
            src,
            lambda bdf, bid: hudi_cow_upsert(spark, table, bdf, "event_id"),
            os.path.join(table, "_stream_ckpt"),
        )

    table = built(sf_dir, "hudi_stream_sink", build)
    return hudi_cow_snapshot(spark, table).select(
        "event_id", "user_id", "event_type", "value"
    )
