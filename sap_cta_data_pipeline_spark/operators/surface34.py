"""§2 round-8 batch EN — sorted Iceberg writes with REAL column bounds
+ exact 1-D k-means.

- ``sink_iceberg_sorted_stats_write``: the write half of the stats-prune
  story (batch DZ read hand-built bounds; this writer PRODUCES them):
  sort by a column, range-split into files, record each file's true
  (lower, upper) in the manifest (spec single-value serialization; date
  = int32 days per Appendix D), declare the sort order in metadata. A
  date-range read then prunes from metadata it can trust — the
  clustering→stats contract closed writer-to-reader.
- ``part_kmeans1d_exact``: exact optimal 1-D k-means (k = 3) by split
  enumeration — on SORTED values the optimal clusters are contiguous,
  so the argmin over the C(n−1, 2) boundary pairs (prefix-sum SS per
  segment) IS the global optimum (what Ckmeans.1d.dp computes by DP).
  The certified-exact companion of the iterative emb_kmeans_lloyd lane:
  brand-revenue segmentation with a provable answer.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..catalog import load_table as t
from ..functions.parity import bi, r6
from ..registry import query
from .iceberg_reader import (
    _entry,
    _iceberg_fields_of,
    _manifest,
    _new_table,
    _snapshot,
    commit as iceberg_commit,
)
from .lakehouse_interop import _stage_single_parquet
from .sources import built
from .surface21 import iceberg_stats_plan

_N_FILES = 4


def ib_date_value(days: int) -> bytes:
    """Iceberg Appendix D: date serializes as int32 days from epoch."""
    return struct.pack("<i", days)


def iceberg_create_sorted(
    spark: SparkSession,
    base: str,
    df: DataFrame,
    sort_col: str,
    n_files: int,
) -> None:
    """Create an Iceberg table whose data files are RANGE-SPLIT on
    ``sort_col`` with true per-file bounds in the manifest: split
    points are the k/n order statistics (n_files − 1 driver literals),
    each file is one staged parquet of its range, bounds come from the
    file's actual min/max (file-count-bounded collect), and the
    metadata declares the sort order."""
    fields = _iceberg_fields_of(df.schema)
    field_id = next(f["id"] for f in fields if f["name"] == sort_col)
    # split points: (n_files − 1) order statistics, a bounded collect
    cuts = list(
        df.selectExpr(
            *[
                f"percentile_disc({(i + 1) / n_files}) WITHIN GROUP"
                f" (ORDER BY {sort_col}) AS c{i}"
                for i in range(n_files - 1)
            ]
        ).collect()[0]
    )
    entries = []
    for i in range(n_files):
        part = df
        if i > 0:
            part = part.filter(F.col(sort_col) > F.lit(cuts[i - 1]))
        if i < n_files - 1:
            part = part.filter(F.col(sort_col) <= F.lit(cuts[i]))
        rel = f"sorted-{i}.parquet"
        _stage_single_parquet(part.orderBy(sort_col), os.path.join(base, "data", rel))
        mm = part.agg(
            F.min(sort_col).alias("lo"), F.max(sort_col).alias("hi"), F.count(F.lit(1)).alias("n")
        ).collect()[0]  # 1-row per-file bound (file-count bounded)
        import datetime

        def _ser(v):
            if isinstance(v, datetime.date):
                return ib_date_value((v - datetime.date(1970, 1, 1)).days)
            return struct.pack("<q", int(v))

        entries.append(
            _entry(
                base, rel, 0, mm["n"],
                lower_bounds=[{"key": field_id, "value": _ser(mm["lo"])}],
                upper_bounds=[{"key": field_id, "value": _ser(mm["hi"])}],
            )
        )
    md = _new_table(
        base,
        fields,
        uuid="0f1e2d3c-0000-4000-8000-0000000000a4",
        **{
            "default-sort-order-id": 1,
            "sort-orders": [
                {"order-id": 0, "fields": []},
                {
                    "order-id": 1,
                    "fields": [
                        {
                            "transform": "identity",
                            "source-id": field_id,
                            "direction": "asc",
                            "null-order": "nulls-first",
                        }
                    ],
                },
            ],
        },
    )
    m = _manifest(base, md, "m1-data.avro", entries, 0, 6001, 1)
    md = _snapshot(
        base, md, [m], "append", snap_id=6001, seq=1, ts=1700000000000
    )
    iceberg_commit(base, lambda _v, _prev: md)


def _sorted_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        o = (
            load_table(spark, sf_dir, "orders")
            .filter("o_orderkey % 41 = 0")
            .select(
                "o_orderkey",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
                "o_totalprice",
            )
        )
        iceberg_create_sorted(spark, base, o, "o_orderkey", _N_FILES)

    return built(sf_dir, "iceberg_sorted_stats", build)


@query(
    "sink_iceberg_sorted_stats_write",
    oracle="""
    WITH b AS (
      SELECT max(o_orderkey) // 4 AS lo, max(o_orderkey) // 2 AS hi
      FROM orders WHERE o_orderkey % 41 = 0
    )
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
           o_totalprice
    FROM orders CROSS JOIN b
    WHERE o_orderkey % 41 = 0 AND o_orderkey BETWEEN b.lo AND b.hi
    """,
)
def sink_iceberg_sorted_stats_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Writer-produced stats pruning end to end: the orders subset is
    range-split on o_orderkey into 4 sorted files whose TRUE min/max
    land in the manifest (single-value serialization), the metadata
    declares the sort order, and a key-range read plans its file set
    from those bounds — the batch-DZ reader consuming bounds this
    module's own writer emitted (pruned file count pinned; every
    in-range row present via the value oracle).

    Scale: the writer's only extra work over a plain write is the
    (n_files − 1)-row split-point collect and one 1-row min/max per
    file — both file-count bounded; sorting is the repartitionByRange +
    sortWithinPartitions cost every clustered layout already pays, and
    it is exactly what makes the bounds TIGHT instead of table-wide."""
    base = _sorted_fixture(spark, sf_dir)
    mx = (
        load_table(spark, sf_dir, "orders")
        .filter("o_orderkey % 41 = 0")
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
    )  # 1-row bound (scale-relative query range)
    paths = iceberg_stats_plan(
        base, field_id=1, lo=mx // 4, hi=mx // 2, typ="long"
    )
    if not paths:
        return spark.createDataFrame(
            [], "o_orderkey long, o_orderdate string, o_totalprice double"
        )
    return (
        spark.read.parquet(*paths)
        .filter(F.col("o_orderkey").between(mx // 4, mx // 2))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
        )
    )


@query(
    "part_kmeans1d_exact",
    oracle="""
    WITH vals AS (
      SELECT p_brand AS brand,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0
                 AS v
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    ),
    ranked AS (
      SELECT brand, v,
             row_number() OVER (ORDER BY v, brand) AS r,
             count(*) OVER () AS n
      FROM vals
    ),
    pre AS (
      SELECT r, n,
             sum(v) OVER (ORDER BY r) AS s,
             sum(v * v) OVER (ORDER BY r) AS q
      FROM ranked
    ),
    splits AS (
      SELECT a.r AS i, b.r AS j, a.n,
             (a.q - a.s * a.s / a.r)
             + ((b.q - a.q) - pow(b.s - a.s, 2) / (b.r - a.r))
             + ((tot.q - b.q) - pow(tot.s - b.s, 2) / (a.n - b.r)) AS ss
      FROM pre a JOIN pre b ON a.r < b.r AND b.r < a.n
      CROSS JOIN (SELECT max(s) AS s, max(q) AS q FROM pre) tot
    ),
    best AS (
      SELECT i, j FROM splits
      ORDER BY round(ss, 4), i, j LIMIT 1
    )
    SELECT ranked.brand, round(ranked.v, 6) AS revenue,
           CAST(CASE WHEN ranked.r <= best.i THEN 1
                     WHEN ranked.r <= best.j THEN 2
                     ELSE 3 END AS INT) AS cluster
    FROM ranked CROSS JOIN best
    """,
)
def part_kmeans1d_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D k-means (k = 3) over brand revenues: optimal clusters
    of sorted 1-D points are contiguous, so enumerating the C(n−1, 2)
    boundary pairs with prefix-sum within-SS — SS(i..j) = Q − S²/len —
    finds the GLOBAL optimum (no Lloyd seeds, no local minima; argmin
    tie-broken on rounded SS then boundaries). The exact twin of
    emb_kmeans_lloyd: when the grain is small (brands, stores, plants),
    you can have the provably optimal segmentation for one window pass
    and a bounded self-join.

    Scale: revenue reduces to 25 brand rows in one aggregation; the
    split enumeration is a bounded closure over that metadata frame
    (n² pairs of 25 rows). Larger k or n → the O(kn²) DP; corpus-grain
    clustering → the Lloyd lane (documented routing)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    vals = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                )
                / 100.0
            ).alias("v")
        )
    )
    wr = Window.orderBy("v", "brand")
    wall = Window.partitionBy()
    ranked = vals.select(
        "brand",
        "v",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    wcum = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = ranked.select(
        "r",
        "n",
        F.sum("v").over(wcum).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(wcum).alias("q"),
    )
    tot = pre.agg(F.max("s").alias("ts"), F.max("q").alias("tq"))
    a, b = pre.alias("a"), pre.alias("b")
    ss = (
        (F.col("a.q") - F.col("a.s") * F.col("a.s") / F.col("a.r"))
        + (
            (F.col("b.q") - F.col("a.q"))
            - F.pow(F.col("b.s") - F.col("a.s"), 2) / (F.col("b.r") - F.col("a.r"))
        )
        + (
            (F.col("tq") - F.col("b.q"))
            - F.pow(F.col("ts") - F.col("b.s"), 2) / (F.col("a.n") - F.col("b.r"))
        )
    )
    splits = (
        a.join(b, (F.col("a.r") < F.col("b.r")) & (F.col("b.r") < F.col("a.n")))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a.r").alias("i"), F.col("b.r").alias("j"), ss.alias("ss")
        )
    )
    best = splits.orderBy(F.round(F.col("ss"), 4), "i", "j").limit(1)
    return ranked.crossJoin(F.broadcast(best)).select(
        "brand",
        r6(F.col("v")).alias("revenue"),
        F.when(F.col("r") <= F.col("i"), 1)
        .when(F.col("r") <= F.col("j"), 2)
        .otherwise(3)
        .cast("int")
        .alias("cluster"),
    )
