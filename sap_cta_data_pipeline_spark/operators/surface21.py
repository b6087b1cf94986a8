"""§2 round-8 batch DZ — Iceberg column-stats pruning + Hilbert-curve
data layout.

- ``scan_iceberg_stats_prune``: Iceberg manifests carry per-file
  column bounds (``lower_bounds`` / ``upper_bounds``, spec field-ids
  125/128 — arrays of (field-id, single-value-serialized bytes)); a
  value predicate prunes files whose [lower, upper] envelope misses the
  query range — DRIVER-side, from pure manifest metadata, before any
  footer is read. This is the Iceberg twin of scan_delta_stats_skipping
  and the second half of "plans in O(manifest entries)": partition
  pruning cuts by layout, stats pruning cuts WITHIN partitions.
  Single-value serialization implemented per spec Appendix D (int/long
  = little-endian fixed width).
- ``layout_hilbert_cluster``: the Hilbert space-filling curve as a
  clustering key — the locality-better twin of layout_zorder_cluster
  (Hilbert never takes the long diagonal jumps Morton takes, so range
  envelopes per bucket are tighter). The 8-bit × 8-bit xy→d transform
  is 8 UNROLLED rotate-and-accumulate stages (pure integer CASE
  arithmetic, engine-identical); bijection + unit-step adjacency — the
  properties that make it a valid curve — are pinned in tests.
"""

from __future__ import annotations

import os
import struct
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_path
from ..functions.avro_codec import read_container
from ..functions.parity import bi
from ..registry import query
from .delta_reader import _write_parquet_file
from .iceberg_reader import (
    _NATION_ICEBERG_FIELDS,
    _entry,
    _load_metadata,
    _manifest,
    _manifests,
    _new_table,
    _resolve_path,
    _snapshot,
    commit as iceberg_commit,
)
from .sources import built

# ------------------------------------------------- Iceberg stats pruning


def ib_single_value(v: int, typ: str) -> bytes:
    """Iceberg spec Appendix D single-value binary serialization for
    int (4-byte LE) and long (8-byte LE)."""
    return struct.pack("<i", v) if typ == "int" else struct.pack("<q", v)


def ib_single_value_decode(b: bytes, typ: str) -> int:
    return struct.unpack("<i", b)[0] if typ == "int" else struct.unpack("<q", b)[0]


def iceberg_stats_plan(
    base: str, field_id: int, lo: int, hi: int, typ: str = "int"
) -> list[str]:
    """Plan the file set for ``field BETWEEN lo AND hi`` using ONLY the
    manifest bounds: keep a file iff its [lower, upper] envelope for
    ``field_id`` intersects [lo, hi]; a file with NO bounds for the
    field can never be pruned (the presence rule shared with the
    partition-evolution reader). Driver-side metadata work only."""
    keep: list[str] = []
    for m in _manifests(base, _load_metadata(base)):
        _, entries = read_container(_resolve_path(base, m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:
                continue
            df_ = e["data_file"]
            lbs = {kv["key"]: kv["value"] for kv in (df_.get("lower_bounds") or [])}
            ubs = {kv["key"]: kv["value"] for kv in (df_.get("upper_bounds") or [])}
            if field_id in lbs and field_id in ubs:
                flo = ib_single_value_decode(lbs[field_id], typ)
                fhi = ib_single_value_decode(ubs[field_id], typ)
                if fhi < lo or flo > hi:
                    continue  # envelope misses the query range: prune
            keep.append(_resolve_path(base, df_["file_path"]))
    return sorted(keep)


def _build_stats_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Five-file nation table, each file a contiguous n_nationkey range
    with true lower/upper bounds in its manifest entry."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(table_path(sf_dir, "nation"))
    pdf = tbl.to_pandas().sort_values("n_nationkey").reset_index(drop=True)
    md = _new_table(
        base, _NATION_ICEBERG_FIELDS, uuid="0f1e2d3c-0000-4000-8000-0000000000f5"
    )
    entries = []
    for i in range(5):
        lo, hi = i * 5, i * 5 + 4
        sub = pdf[(pdf.n_nationkey >= lo) & (pdf.n_nationkey <= hi)]
        rel = f"range-{lo}-{hi}.parquet"
        _write_parquet_file(tbl.schema, sub, os.path.join(base, "data", rel))
        lb = ib_single_value(int(sub.n_nationkey.min()), "int")
        ub = ib_single_value(int(sub.n_nationkey.max()), "int")
        entries.append(
            _entry(
                base, rel, 0, len(sub),
                lower_bounds=[{"key": 1, "value": lb}],
                upper_bounds=[{"key": 1, "value": ub}],
            )
        )
    m = _manifest(base, md, "m1-data.avro", entries, 0, 5001, 1)
    md = _snapshot(
        base, md, [m], "append", snap_id=5001, seq=1, ts=1700000000000
    )
    iceberg_commit(base, lambda _v, _prev: md)


def _stats_fixture(spark: SparkSession, sf_dir: str) -> str:
    return built(
        sf_dir, "iceberg_stats_prune", partial(_build_stats_fixture, spark, sf_dir)
    )


@query(
    "scan_iceberg_stats_prune",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey BETWEEN 7 AND 12
    """,
)
def scan_iceberg_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats file pruning from Iceberg manifest bounds: the
    query range [7, 12] keeps only the two files whose (lower_bounds,
    upper_bounds) envelopes for field-id 1 intersect it — planned
    driver-side from manifest metadata, no footer reads of skipped
    files (planned file set pinned in tests); the residual BETWEEN
    row-filters the survivors. Bounds use the spec's single-value
    binary serialization (little-endian fixed width). Together with
    partition pruning this is the whole Iceberg skip story: layout cuts
    across partitions, stats cut within them.

    Scale: planning stays O(manifest entries); the win compounds with
    sorted/clustered writes (layout_zorder/hilbert), which tighten each
    file's envelope — why table formats pair stats with clustering."""
    base = _stats_fixture(spark, sf_dir)
    paths = iceberg_stats_plan(base, field_id=1, lo=7, hi=12, typ="int")
    return (
        spark.read.parquet(*paths)
        .filter(F.col("n_nationkey").between(7, 12))
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# ---------------------------------------------------- Hilbert clustering


def _hilbert_stages_sql() -> str:
    """DuckDB CTE chain: 8-bit Hilbert xy→d as 8 staged selects, each
    materializing (hx, hy, hd) — staged, not substituted, so the
    expression stays LINEAR in stages (a textual substitution would
    triple per stage). s-local-rotation variant; bijection + unit
    adjacency pinned in tests."""
    ctes = [
        "h7 AS (SELECT l_partkey % 256 AS pa, l_suppkey % 256 AS sb, "
        "l_partkey % 256 AS hx, l_suppkey % 256 AS hy, 0 AS hd FROM lineitem)"
    ]
    prev = "h7"
    for k in range(7, -1, -1):
        s = 1 << k
        rx = f"((hx & {s}) > 0)"
        ry = f"((hy & {s}) > 0)"
        inc = (
            f"{s * s} * (CASE WHEN {rx} AND {ry} THEN 2"
            f" WHEN {rx} THEN 3 WHEN {ry} THEN 1 ELSE 0 END)"
        )
        nhx = (
            f"CASE WHEN NOT {ry} THEN (CASE WHEN {rx} THEN {s - 1} - hy"
            f" ELSE hy END) ELSE hx END"
        )
        nhy = (
            f"CASE WHEN NOT {ry} THEN (CASE WHEN {rx} THEN {s - 1} - hx"
            f" ELSE hx END) ELSE hy END"
        )
        name = f"g{k}"
        ctes.append(
            f"{name} AS (SELECT pa, sb, {nhx} AS hx, {nhy} AS hy, "
            f"hd + {inc} AS hd FROM {prev})"
        )
        prev = name
    return "WITH " + ",\n".join(ctes) + f", h AS (SELECT pa, sb, hd AS hkey FROM {prev})"


def hilbert_xy2d_col(df, x, y):
    """Spark twin of :func:`_hilbert_stages_sql`: returns ``df`` with
    (pa, sb, hkey) via 8 staged selects over materialized columns."""
    df = df.select(x.alias("pa"), y.alias("sb"), x.alias("hx"), y.alias("hy"), F.lit(0).alias("hd"))
    for k in range(7, -1, -1):
        s = 1 << k
        rx = F.col("hx").bitwiseAND(F.lit(s)) > 0
        ry = F.col("hy").bitwiseAND(F.lit(s)) > 0
        inc = F.lit(s * s) * (
            F.when(rx & ry, 2).when(rx, 3).when(ry, 1).otherwise(0)
        )
        nhx = F.when(~ry, F.when(rx, F.lit(s - 1) - F.col("hy")).otherwise(F.col("hy"))).otherwise(F.col("hx"))
        nhy = F.when(~ry, F.when(rx, F.lit(s - 1) - F.col("hx")).otherwise(F.col("hx"))).otherwise(F.col("hy"))
        df = df.select(
            "pa", "sb", nhx.alias("hx"), nhy.alias("hy"),
            (F.col("hd") + inc).alias("hd"),
        )
    return df.select("pa", "sb", F.col("hd").alias("hkey"))


@query(
    "layout_hilbert_cluster",
    oracle=f"""
    {_hilbert_stages_sql()}
    SELECT CAST(floor(hkey / 4096) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(pa) AS BIGINT) AS min_part, CAST(max(pa) AS BIGINT) AS max_part,
           CAST(min(sb) AS BIGINT) AS min_supp, CAST(max(sb) AS BIGINT) AS max_supp
    FROM h
    GROUP BY CAST(floor(hkey / 4096) AS BIGINT)
    """,
)
def layout_hilbert_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering over the same two hot lineitem filter
    dimensions as layout_zorder_cluster, same 16-bucket envelope report
    — the head-to-head that shows WHY engines (Databricks liquid
    clustering, Iceberg's hilbert sort order) moved from Z-order to
    Hilbert: Hilbert's unit-step adjacency (no Morton diagonal jumps)
    gives tighter per-bucket min/max envelopes, i.e. better row-group
    pruning on either predicate. The xy→d transform is 8 unrolled
    integer CASE stages — pure codegen arithmetic, no UDF.

    Scale: identical contract to the Z-order lane — at write time the
    key feeds repartitionByRange(hkey).sortWithinPartitions(hkey); the
    transform itself is map-side."""
    from ..catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    pa = (F.col("l_partkey") % 256).cast("int")
    sb = (F.col("l_suppkey") % 256).cast("int")
    h = hilbert_xy2d_col(li, pa, sb)
    return h.groupBy(
        F.floor(F.col("hkey") / 4096).cast("long").alias("bucket")
    ).agg(
        bi(F.count(F.lit(1))).alias("n_rows"),
        bi(F.min("pa")).alias("min_part"),
        bi(F.max("pa")).alias("max_part"),
        bi(F.min("sb")).alias("min_supp"),
        bi(F.max("sb")).alias("max_supp"),
    )
