"""§2 round-12 batch GU — Iceberg partition TRANSFORMS in the write and
DML paths: day(ts), truncate[W], and transform-routed MERGE.

Batch GS claimed identity partitioning and refused value transforms;
batch DT's ``sink_iceberg_bucket_write`` claimed bucket[N] with its own
one-off writer. But `day(ts)` is THE canonical layout of a 100 TB
time-series Iceberg table (every warehouse's daily-window pattern), and
truncate[W] is how high-cardinality numeric keys get range-prunable
layout without a date column. This batch makes transforms a first-class
property of the SHARED DML machinery (functions/transforms.py +
surface63's ``_partition_info``/routing — the same code path the
identity keys use), not another one-off writer:

- ``sink_iceberg_day_partition_write`` — events partitioned by
  ``day(ts)``: one data file per day, each manifest entry carrying the
  epoch-day int the spec stores for the day transform. The ORACLE lane
  itself proves the records: the returned ``ts_day`` column is read
  from each file's PARTITION RECORD (basename → record map over
  ``input_file_name``), value-matched against DuckDB's own date
  arithmetic — a wrong record is a wrong cell, not a missed pin.
- ``sink_iceberg_truncate_write`` — orders partitioned by
  ``truncate[100](o_custkey)`` (``100 * floor(v/100)``), same
  record-derived oracle; one-partition pruned reads pinned.
- ``iceberg_merge_day_partitioned`` — keyed CoW MERGE into the
  day-partitioned table: matched-file rewrites transport their day
  records verbatim (no row can change day — ``ts`` is refused in
  update_cols as a transform SOURCE column), and inserts are ROUTED by
  re-evaluating ``day(ts)`` per row — two fabricated future days land
  as two fresh single-day files (pinned), invisible partitions exactly
  as Iceberg promises: the writer computes them, the user never does.

Temporal transforms evaluate with CALENDAR functions over date /
timestamp_ntz only (tz-aware sources refuse) — partition values must
never depend on session time zone, and the driver's hostile-tz probe
would catch any drift. Scale: the write is ONE partitionBy job (no
per-partition driver loop); planning and pruning stay O(manifest);
inserts route per touched day (bounded driver collect of day ordinals);
a daily MERGE into a decade-deep table rewrites only the files its keys
live in and its pruned reads open one day's files from metadata alone.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.transforms import transform_expr, transform_value
from ..registry import query
from .iceberg_reader import (
    _entry,
    _iceberg_fields_of,
    _manifest,
    _new_table,
    _snapshot,
    iceberg_snapshot,
    iceberg_state,
    commit as iceberg_commit,
)
from .sources import built


def write_transform_partitioned(
    spark: SparkSession,
    base: str,
    df: DataFrame,
    pfields: list[dict],
) -> None:
    """Create a single-snapshot Iceberg v2 table at ``base`` from
    ``df``, partitioned by ``pfields`` (each ``{"pname", "src",
    "transform"}``). ONE Spark job: the transform is evaluated as a
    derived column and ``partitionBy`` splits the write; the derived
    column never lands in the data files (it is metadata, recomputable
    — Iceberg's hidden-partitioning contract), while the SOURCE column
    stays, exactly like the spec's data layout. Each staged file's
    manifest entry carries its typed partition record parsed back from
    the directory value."""
    dtype = {f.name: f.dataType for f in df.schema.fields}
    pnames = [pf["pname"] for pf in pfields]
    staged = os.path.join(base, "_stage")
    out = df
    for pf in pfields:
        out = out.withColumn(
            pf["pname"],
            transform_expr(pf["transform"], pf["src"], dtype[pf["src"]]),
        )
    (
        out.repartition(1)
        .write.mode("overwrite")
        .partitionBy(*pnames)
        .parquet(staged)
    )
    fields = _iceberg_fields_of(df.schema)
    fid_of = {f["name"]: f["id"] for f in fields}
    md = _new_table(
        base,
        fields,
        uuid="0f1e2d3c-0000-4000-8000-0000000071aa",
        partition_fields=[
            {
                "name": pf["pname"],
                "transform": pf["transform"],
                "source-id": fid_of[pf["src"]],
                "field-id": 1000 + i,
            }
            for i, pf in enumerate(pfields)
        ],
    )
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(base, "data"), exist_ok=True)
    entries = []
    # walk the hive-style staged layout; each leaf dir is one partition
    def _leaves(d: str, rec: dict):
        subs = [
            s for s in sorted(os.listdir(d))
            if os.path.isdir(os.path.join(d, s)) and "=" in s
        ]
        if not subs:
            yield d, rec
            return
        for s in subs:
            k, v = s.split("=", 1)
            assert v != "__HIVE_DEFAULT_PARTITION__", (
                "null partition value in fixture slice"
            )
            pf = next(p for p in pfields if p["pname"] == k)
            src_t = dtype[pf["src"]].typeName()
            typed = v if (
                pf["transform"].startswith("truncate")
                and src_t == "string"
            ) else int(v)
            yield from _leaves(os.path.join(d, s), {**rec, k: typed})

    for leaf, rec in _leaves(staged, {}):
        parts = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        for i, f in enumerate(sorted(parts)):
            tag = "-".join(str(rec[p]) for p in pnames)
            rel = f"p-{tag}-{i}.parquet"
            shutil.move(os.path.join(leaf, f), os.path.join(base, "data", rel))
            n = pq.ParquetFile(os.path.join(base, "data", rel)).metadata.num_rows
            entries.append(_entry(base, rel, 0, n, seq=1, partition=rec))
    shutil.rmtree(staged)
    m = _manifest(base, md, "m1-data.avro", entries, 0, 3001, 1)
    md = _snapshot(
        base, md, [m], "append", snap_id=3001, seq=1, ts=1700000000000
    )
    iceberg_commit(base, lambda _v, _prev: md)


def _record_tagged_read(
    spark: SparkSession, base: str, pname: str
) -> DataFrame:
    """The snapshot with ``pname`` attached to every row FROM ITS
    FILE'S PARTITION RECORD (basename → record map over
    input_file_name) — reading the metadata back as data, so the
    oracle value-checks every record cell."""
    _, files, _, _ = iceberg_state(base)
    pairs = []
    for f in files:
        pairs.extend(
            [F.lit(os.path.basename(f["path"])), F.lit(f["partition"][pname])]
        )
    rec_map = F.create_map(*pairs)
    return spark.read.parquet(os.path.join(base, "data")).withColumn(
        pname,
        F.element_at(
            rec_map, F.regexp_extract(F.input_file_name(), "[^/]+$", 0)
        ),
    )


def _day_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    def build(base: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") % 13 == 0)
            .select(
                "event_id", "ts", "user_id",
                F.round("value", 2).alias("value"),
            )
        )
        write_transform_partitioned(
            spark, base, ev,
            [{"pname": "ts_day", "src": "ts", "transform": "day"}],
        )

    return built(sf_dir, name, build)


@query(
    "sink_iceberg_day_partition_write",
    oracle="""
    SELECT event_id, user_id, round(value, 2) AS value,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS ts_day
    FROM events WHERE user_id % 13 = 0
    """,
)
def sink_iceberg_day_partition_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The canonical time-series layout: events written as an Iceberg
    table partitioned by ``day(ts)`` — one file per day, each manifest
    entry carrying the spec's epoch-day int. The returned ``ts_day`` is
    decoded from the PARTITION RECORDS (module docstring), so DuckDB's
    independent date arithmetic value-certifies every record; pruned
    one-day reads and the hidden-partitioning shape (derived column
    absent from data files, source ``ts`` present) are pinned in
    tests/test_surface71.py."""
    base = _day_table(spark, sf_dir, "iceberg_day_part")
    return _record_tagged_read(spark, base, "ts_day").select(
        "event_id", "user_id", "value", F.col("ts_day").cast("int")
    )


@query(
    "sink_iceberg_truncate_write",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_custkey - (o_custkey % 100) AS BIGINT) AS ck_trunc,
           round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey % 101 = 1
    """,
)
def sink_iceberg_truncate_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``truncate[100](o_custkey)`` partitioning: each file holds one
    100-wide custkey range, the manifest records carry ``100 *
    floor(v/100)`` (spec semantics — exact on negatives too, pinned in
    the transform unit tests). Record-derived oracle as the day key;
    range-pruned point lookups pinned."""

    def build(base: str) -> None:
        o = (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") % 101 == 1)
            .select(
                "o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("o_totalprice"),
            )
        )
        write_transform_partitioned(
            spark, base, o,
            [{"pname": "ck_trunc", "src": "o_custkey",
              "transform": "truncate[100]"}],
        )

    base = built(sf_dir, "iceberg_trunc_part", build)
    return _record_tagged_read(spark, base, "ck_trunc").select(
        "o_orderkey", "o_custkey", F.col("ck_trunc").cast("long"),
        "o_totalprice",
    )


@query(
    "iceberg_merge_day_partitioned",
    oracle="""
    SELECT event_id, user_id,
           round(value, 2)
             + CASE WHEN event_id % 10 = 0 THEN 5 ELSE 0 END AS value,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS ts_day
    FROM events WHERE user_id % 13 = 0
    UNION ALL
    SELECT 10000000001, 0, 1.0,
           CAST(DATE '2030-01-01' - DATE '1970-01-01' AS INT)
    UNION ALL
    SELECT 10000000002, 0, 1.0,
           CAST(DATE '2030-01-02' - DATE '1970-01-01' AS INT)
    """,
)
def iceberg_merge_day_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyed CoW MERGE into the ``day(ts)``-partitioned table: value+5
    for event_id%10 keys (matched files rewritten, day records carried
    verbatim) and two fabricated 2030 rows inserted — ROUTED by
    re-evaluating ``day(ts)``, landing as two fresh one-day files with
    typed epoch-day records (pinned: routing, carry, and the refusal of
    ``ts`` — a transform SOURCE — in update_cols). The whole statement
    is the GM MERGE envelope; only the routing learned transforms."""
    from .surface63 import iceberg_merge_into


    def build(base: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") % 13 == 0)
            .select(
                "event_id", "ts", "user_id",
                F.round("value", 2).alias("value"),
            )
        )
        write_transform_partitioned(
            spark, base, ev,
            [{"pname": "ts_day", "src": "ts", "transform": "day"}],
        )
        upd = ev.where(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + F.lit(5.0)
        )
        ins = spark.createDataFrame(
            [
                (10_000_000_001, "2030-01-01 00:00:00", 0, 1.0),
                (10_000_000_002, "2030-01-02 12:00:00", 0, 1.0),
            ],
            "event_id long, ts string, user_id long, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        iceberg_merge_into(
            spark, base, upd.unionByName(ins), "event_id", ["value"]
        )

    base = built(sf_dir, "iceberg_day_merge", build)
    snap = iceberg_snapshot(spark, base)
    return snap.select(
        "event_id", "user_id", "value",
        transform_expr(
            "day", "ts", snap.schema["ts"].dataType
        ).cast("int").alias("ts_day"),
    )
