"""SparkSession factory and runtime tuning.

Design notes (SURVEY.md §4, §5.3):

- UTC session timezone: the test data's timestamps are naive; DuckDB (the
  correctness oracle) reads them naively, so Spark must interpret them as
  UTC for value parity.
- AQE on: runtime re-planning (partition coalescing, skew-join splitting,
  broadcast conversion) is the 100-TB story for shuffle sizing — we size
  ``spark.sql.shuffle.partitions`` generously and let AQE coalesce.
- ``tune`` is applied inside every registered query because the *driver*
  owns the SparkSession passed to ``queries()[k]``; all confs set here are
  runtime-settable SQL confs, safe to apply on a live session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to any session we touch.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Round-8 broadcast policy (SCALE.md S17): explicit F.broadcast() is
    # reserved for builds BOUNDED BY CONSTRUCTION (1-row aggregates,
    # fixed dims like nation/region, k-row grids/centroids) or guarded by
    # a MEASURED gate (tfidf vocab). Scale-growing sides (TPC-H
    # part/supplier, per-key aggregates, simhash signatures) carry no
    # hint — Catalyst/AQE decides from measured stats against this threshold. Round-9
    # re-sizing: the round-8 256m value let a 64-256 MB estimated build
    # through on the sf30 relational rung, and the single-threaded
    # driver-side hash-table build DOUBLED join_multiway's wall
    # (12.6-16.0 s vs 5.9-7.9 s at <=64m; A/B in BASELINE.md round-9).
    # 64m keeps every graded-scale dim broadcast (fixture pins + bench
    # unchanged) while capping the build at what a driver thread
    # assembles in well under a second.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Round-10 skew rung (BASELINE.md round-10, scripts/skew_rung.py):
    # on a 30%-hot-key 60M-row join the DEFAULT 256m skew threshold
    # never fired — the hot partition's compressed shuffle size sits
    # under it — leaving a 58.6x max/median task-time straggler
    # (unsalted) that AQE's coalescing alone made WORSE in absolute
    # terms (11.1 s max task). At 64m the split fires
    # (SortMergeJoin(skew=true)), task skew flattens to 2.8x, and the
    # measured wall HALVES (11.8 -> 5.9 s). 64m also matches the S17
    # broadcast cap: any partition too big to broadcast is big enough
    # to be worth splitting. Advisory partition size stays default —
    # the split granularity was already right; only detection was off.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64m",
    # Exact ANSI NULL-on-error semantics diverge between engines; keep the
    # permissive (non-ANSI) mode Spark classic behavior for parity with the
    # guards we write explicitly (nullif etc.).
    "spark.sql.ansi.enabled": "false",
}


def default_shuffle_partitions() -> str:
    return os.environ.get("SPARK_GRAFT_SHUFFLE", os.environ.get("SPARK_GRAFT_CPUS", "32"))


def tune(spark: SparkSession, shuffle_partitions: str | int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (driver- or self-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; never fail a query over tuning
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or default_shuffle_partitions()),
    )
    return spark


def get_spark(app_name: str = "sap-cta-data-pipeline-spark", master: str | None = None) -> SparkSession:
    """Create (or get) a tuned local session. Tests and bench use this; the
    driver supplies its own session which ``tune`` upgrades in-place."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # UI off by default (bench hygiene); SPARK_GRAFT_UI=1 enables it
        # for the status-API memory rungs (scripts/minhash_mem_rung.py)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
        .config("spark.sql.shuffle.partitions", default_shuffle_partitions())
        # JVM unified logging writes to STDOUT (observed: a [gc,alloc]
        # GCLocker warning under memory pressure), which corrupts
        # bench.py's one-JSON-line stdout contract — route it to stderr
        .config(
            "spark.driver.extraJavaOptions",
            "-Xlog:all=warning:stderr",
        )
    )
    return tune(builder.getOrCreate())
