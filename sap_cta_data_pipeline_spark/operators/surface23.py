"""§2 round-8 batch EB — Iceberg orphan-file cleanup + WOE/IV feature
binning.

- ``iceberg_remove_orphans``: the table-maintenance verb Delta calls
  VACUUM and Iceberg calls remove_orphan_files — walk the data
  directory, keep every file referenced by ANY snapshot's manifests
  (not just the current one — time travel must survive), delete the
  rest (crashed-writer debris, failed-commit staging). The inverse
  gate of snapshot expiry: expiry shrinks the REFERENCED set,
  orphan cleanup deletes the UNREFERENCED one.
- ``ml_woe_iv_binning``: credit-scoring's feature diagnostic — per
  score bin, Weight of Evidence = ln(P(bin|good)/P(bin|bad)) and the
  feature's Information Value IV = Σ (P(bin|good) − P(bin|bad))·WOE.
  IV < 0.02 = useless, > 0.5 = suspicious — the standard screen run on
  every candidate feature before model training.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.avro_codec import read_container
from ..functions.parity import bi, r6
from ..registry import query
from .iceberg_reader import (
    _manifests,
    _resolve_path,
    _tip,
    iceberg_append,
    iceberg_snapshot,
)
from .sources import built


def iceberg_referenced_files(base: str) -> set[str]:
    """Every data-dir-relative path referenced by ANY snapshot of the
    table (all manifest lists, all manifests, data AND delete files) —
    the keep-set for orphan cleanup. Driver-side metadata only."""
    _, md = _tip(os.path.join(base, "metadata"))
    keep: set[str] = set()
    for snap in md.get("snapshots", []):
        for m in _manifests(base, md, snap["snapshot-id"]):
            _, entries = read_container(_resolve_path(base, m["manifest_path"]))
            for e in entries:
                p = _resolve_path(base, e["data_file"]["file_path"])
                keep.add(os.path.relpath(p, base))
    return keep


def iceberg_remove_orphans(base: str) -> list[str]:
    """Delete files under ``data/`` referenced by NO snapshot; returns
    the sorted deleted relative paths. Never touches ``metadata/`` and
    never deletes a file any snapshot can still reach (time travel to
    EVERY retained snapshot survives — pinned)."""
    keep = iceberg_referenced_files(base)
    deleted: list[str] = []
    data_dir = os.path.join(base, "data")
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), base)
            if rel not in keep:
                os.remove(os.path.join(root, f))
                deleted.append(rel)
    return sorted(deleted)


@query(
    "iceberg_orphan_cleanup",
    oracle="""
    SELECT * FROM (VALUES
      ('deleted', 'data/crashed-writer-debris.parquet'),
      ('deleted', 'data/failed-commit-staging.parquet'),
      ('kept',    'data/a0.parquet'),
      ('kept',    'data/a1.parquet')
    ) AS t(action, file)
    """,
)
def iceberg_orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file cleanup round-trip: build a two-snapshot Iceberg
    table through the house append writer, plant two orphan parquets in
    ``data/`` (crashed-writer debris — present on disk, referenced by
    no snapshot), run remove_orphans, and report the action taken per
    file (literal-row oracle, the txnlog_describe_history pattern).
    Both committed files survive — including the one only reachable via
    the FIRST snapshot (time travel intact, pinned in tests), and the
    snapshot reads identically before/after.

    Scale: the keep-set is O(total manifest entries across snapshots) —
    driver metadata; the directory walk is the only filesystem scan and
    is embarrassingly parallelizable (production Iceberg runs it as a
    distributed listing job); deletes are per-orphan O(1)."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation")
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        iceberg_append(spark, base, n.filter("n_nationkey >= 12"), "a1.parquet")
        for orphan in (
            "crashed-writer-debris.parquet",
            "failed-commit-staging.parquet",
        ):
            from .lakehouse_interop import _stage_single_parquet

            _stage_single_parquet(
                n.limit(2), os.path.join(base, "data", orphan)
            )
        deleted = iceberg_remove_orphans(base)
        with open(os.path.join(base, "_DELETED.json"), "w") as fh:
            json.dump(deleted, fh)

    base = built(sf_dir, "iceberg_orphans", build)
    with open(os.path.join(base, "_DELETED.json")) as fh:
        deleted = json.load(fh)
    kept = sorted(
        os.path.join("data", f) for f in os.listdir(os.path.join(base, "data"))
    )
    rows = [("deleted", f) for f in deleted] + [("kept", f) for f in kept]
    return spark.createDataFrame(rows, "action string, file string")


_WOE_BINS = 10
_KNUTH = 2654435761
_M32 = 4294967296


@query(
    "ml_woe_iv_binning",
    oracle=f"""
    WITH scored AS (
      SELECT CAST((((((o_orderkey * {_KNUTH}) % {_M32}) + {_M32}) % {_M32})
                  * {_WOE_BINS}) // {_M32} AS INT) AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ), bins AS (
      SELECT bin,
             sum(1 - bad) * 1.0 AS n_good,
             sum(bad) * 1.0     AS n_bad
      FROM scored GROUP BY bin
    ), tot AS (
      SELECT bin, n_good, n_bad,
             sum(n_good) OVER () AS tg, sum(n_bad) OVER () AS tb
      FROM bins
    )
    SELECT bin,
           CAST(n_good AS BIGINT) AS n_good,
           CAST(n_bad AS BIGINT)  AS n_bad,
           round(ln((n_good / tg) / (n_bad / tb)), 6) AS woe,
           round((n_good / tg - n_bad / tb)
                 * ln((n_good / tg) / (n_bad / tb)), 6) AS iv_term,
           round(sum((n_good / tg - n_bad / tb)
                     * ln((n_good / tg) / (n_bad / tb))) OVER (), 6) AS iv_total
    FROM tot
    """,
)
def ml_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value screen for a binned
    feature (Knuth-hash score fixture, 10 bins; label = order status
    'F'): WOE(bin) = ln(P(bin|good)/P(bin|bad)), IV = Σ (ΔP)·WOE —
    reported per bin with the feature-level IV repeated (windowed
    total). ln rides the established log-parity discipline (PMI /
    entropy lanes); every bin is populated at this fixture's scale so
    no zero-cell smoothing is needed (the production variant adds
    Laplace counts — documented).

    Scale: one corpus aggregation to {_WOE_BINS} bin rows; the totals
    are windows OVER THE BINS (metadata-sized). The same shape as
    ml_psi_drift — WOE/IV is PSI's supervised sibling."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        (
            F.pmod(F.col("o_orderkey") * _KNUTH, F.lit(_M32))
            * _WOE_BINS
            / F.lit(_M32)
        )
        .cast("int")
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    bins = scored.groupBy("bin").agg(
        (F.sum(1 - F.col("bad")) * 1.0).alias("n_good"),
        (F.sum("bad") * 1.0).alias("n_bad"),
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    tot = bins.select(
        "bin",
        "n_good",
        "n_bad",
        F.sum("n_good").over(wall).alias("tg"),
        F.sum("n_bad").over(wall).alias("tb"),
    )
    dg = F.col("n_good") / F.col("tg")
    db = F.col("n_bad") / F.col("tb")
    woe = F.log(dg / db)
    return tot.select(
        "bin",
        bi(F.col("n_good")).alias("n_good"),
        bi(F.col("n_bad")).alias("n_bad"),
        r6(woe).alias("woe"),
        r6((dg - db) * woe).alias("iv_term"),
        r6(F.sum((dg - db) * woe).over(wall)).alias("iv_total"),
    )
