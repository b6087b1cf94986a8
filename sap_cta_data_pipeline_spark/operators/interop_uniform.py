"""§2 round-9 batch EZ — format interop + mergeable-sketch windows:
Delta UniForm (Iceberg metadata over Delta data files) and the rolling
HLL-union window calibrated against the exact lane.

- ``delta_uniform_iceberg``: Delta UniForm's core idea — the SAME
  parquet data files served under BOTH table formats: generate Iceberg
  metadata (manifest + manifest list + metadata.json) whose entries
  point at the Delta table's live files IN PLACE (zero bytes copied,
  pinned), then read through the house Iceberg reader and hash-match the
  Delta reader. This is what lets an Iceberg-only engine consume a
  Delta-written lake without a migration.
- ``agg_hll_rolling_window_eval``: trailing-7-day distinct users via
  MERGEABLE daily HLL sketches unioned in a calendar RANGE window — the
  incremental form events_rolling_dau's docstring promises at 100 TB —
  joined against that exact lane and reporting per-day relative error
  (rows-only lane: sketch estimates are approximate by design; the ≤5%
  bound and determinism are pinned).

Scale notes (SCALE.md batch EZ): UniForm conversion is O(live files)
driver metadata — no data job at all; the rolling-HLL lane's corpus
work is ONE day-grain sketch aggregation, after which every window
union touches 7 fixed-size sketches per day instead of re-scanning the
window's raw events (the entire argument for mergeable sketches).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import query
from .delta_reader import delta_snapshot, delta_state
from .iceberg_reader import (
    _entry,
    _iceberg_fields_of,
    _manifest,
    _new_table,
    _snapshot,
    commit as iceberg_commit,
    iceberg_snapshot,
)
from .lakehouse_interop import _build_sink_fixture
from .sources import built


def delta_uniform_iceberg_metadata(
    spark: SparkSession, delta_base: str, iceberg_base: str
) -> int:
    """Write Iceberg table metadata under ``iceberg_base`` whose single
    snapshot references the Delta table's CURRENT live parquet files in
    place. Refuses loudly on Delta features Iceberg metadata cannot
    express file-identically (deletion vectors, column mapping,
    partitioned layout) — the same restrictions Delta UniForm documents.
    Returns the Iceberg metadata version (always 1 — conversion of one
    snapshot)."""
    live, schema_string, part_cols, config, dvs = delta_state(spark, delta_base)
    if dvs:
        raise NotImplementedError(
            "UniForm conversion with live deletion vectors: Iceberg "
            "readers would see undeleted rows — purge DVs (OPTIMIZE) first"
        )
    if part_cols:
        raise NotImplementedError("UniForm conversion of partitioned tables")
    if config.get("delta.columnMapping.mode") in ("name", "id"):
        raise NotImplementedError(
            "UniForm conversion of column-mapped tables: physical parquet "
            "names would need Iceberg name-mapping metadata"
        )
    import pyarrow.parquet as pq

    schema = T.StructType.fromJson(json.loads(schema_string))
    md = _new_table(
        iceberg_base,
        _iceberg_fields_of(schema),
        uuid="0f1e2d3c-0000-4000-8000-0000000000f0",
        properties={"uniform.source": "delta"},
    )
    # an absolute path names the Delta file in place: no byte is copied
    entries = [
        _entry(
            iceberg_base,
            os.path.abspath(os.path.join(delta_base, rel)),
            0,
            pq.read_metadata(os.path.join(delta_base, rel)).num_rows,
        )
        for rel in sorted(live)
    ]
    m = _manifest(iceberg_base, md, "m-uniform-1.avro", entries, 0, 1001, 1)
    md = _snapshot(
        iceberg_base, md, [m], "append", snap_id=1001, seq=1, ts=1700000000000
    )
    return iceberg_commit(iceberg_base, lambda _v, _prev: md)


@query(
    "delta_uniform_iceberg",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def delta_uniform_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta UniForm round-trip: the Delta sink table's live parquet
    files are exposed to the Iceberg stack by generating Iceberg
    metadata IN PLACE (one manifest naming the Delta files absolutely;
    zero data bytes copied — pinned), and the table is read back through
    the house ICEBERG reader. The identity oracle certifies that both
    format stacks resolve the same files to the same rows — the
    cross-format contract that makes a lake writable in one format and
    readable in the other.

    Scale: conversion is O(live files) driver metadata (parquet footers
    for record counts) and zero data movement — which is the entire
    point; a copy-based migration of a 100-TB table is exactly what
    UniForm exists to avoid."""
    delta_base = _build_sink_fixture(spark, sf_dir)
    ib = built(
        sf_dir,
        "uniform_iceberg",
        lambda p: delta_uniform_iceberg_metadata(spark, delta_base, p),
    )
    return iceberg_snapshot(spark, ib).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query("agg_hll_rolling_window_eval")  # rows-only: sketch estimates
def agg_hll_rolling_window_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users via MERGEABLE sketches: one
    day-grain hll_sketch_agg over the corpus, then a calendar RANGE
    window unions ≤7 fixed-size sketches per day — the incremental form
    that replaces events_rolling_dau's exact ×7 expansion at 100 TB
    (daily sketches persist; each new day unions 7 KB-sized states
    instead of re-touching a week of raw events). Joined against the
    exact lane and reporting per-day relative error; the ≤5% bound and
    run-to-run determinism are pinned in tests (rows-only by design —
    HLL++ is approximate).

    Scale: corpus work is ONE keyed aggregation; the window side is
    day-grain (§R class-3 calendar)."""
    from .surface8 import events_rolling_dau

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id")).alias("sk")
    )
    dnum = F.datediff(F.col("day"), F.lit("1990-01-01").cast("date"))
    w = Window.orderBy(dnum).rangeBetween(-6, 0)
    approx = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("approx_users"),
    )
    exact = events_rolling_dau.__wrapped__(spark, sf_dir).select(
        F.col("day").cast("date").alias("day"),
        F.col("rolling_7d_users").alias("exact_users"),
    )
    return (
        approx.join(exact, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("exact_users").cast("long").alias("exact_users"),
            F.col("approx_users").cast("long").alias("approx_users"),
            F.round(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("day")
    )
