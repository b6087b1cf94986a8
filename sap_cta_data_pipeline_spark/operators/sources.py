"""§2-A Scans / sources / sinks.

Round-trip ops write to a per-SF scratch dir under /tmp and read back with
explicit schemas — schema-on-read is never inferred for typed sources
(inference is nondeterministic at scale and breaks the catalog contract).

Table fixtures (the Delta, Iceberg, Hudi and txnlog tables that the
lakehouse keys write with the engine's writers and read back with its
readers) go through :func:`built`: each is built once per process and
input basename, a half-built directory left by a build that raised is
cleared before the next try, a ``copy_of`` source's readiness marker is
not copied, and the build runs in place because Iceberg metadata records
absolute ``file://`` paths.

Scale notes: all sinks write partition-parallel (one file per task);
`sink_parquet_partitioned` demonstrates partitioned layout + partition
pruning on read-back (dynamic pruning kicks in for joins at scale);
`scan_union_dirs` is the multi-path scan shape used for
directory-of-datasets ingestion (the reference iterated directories of
FITS files; SURVEY.md §2-A).
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table as t
from ..functions.parity import bi, r2
from ..registry import query

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _scratch(sf_dir: str, name: str) -> str:
    # per-process scratch: concurrent runs against the same SF (pytest +
    # bench/driver_sim in parallel) must not race each other's
    # mode('overwrite') writes and read back partial data
    tag = os.path.basename(os.path.abspath(sf_dir.rstrip("/")))
    return os.path.join("/tmp", "sap_cta_scratch", f"pid{os.getpid()}", tag, name)


#: Written into a fixture directory once its build has returned.
READY = "_FIXTURE_READY"


def built(sf_dir: str, name: str, build, copy_of: str | None = None) -> str:
    """Return the scratch fixture ``name`` of ``sf_dir``, building it first
    unless this process already finished it.

    The directory is ready only once ``build(path)`` has returned and the
    ``_FIXTURE_READY`` marker is written, so a build that raised part-way
    is never served: the next call removes what it left and builds again.
    With ``copy_of``, that directory is copied in first (without its
    marker) and ``build`` works on the copy. The build runs at the final
    path, not in a directory renamed into place, because Iceberg metadata
    records absolute ``file://`` paths. ``_scratch`` is looked up at call
    time, so a relocated scratch root applies to every fixture."""
    path = _scratch(sf_dir, name)
    if os.path.exists(os.path.join(path, READY)):
        return path
    shutil.rmtree(path, ignore_errors=True)
    if copy_of is not None:
        shutil.copytree(copy_of, path, ignore=shutil.ignore_patterns(READY))
    build(path)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, READY), "w") as fh:
        fh.write("ok")
    return path


#: Run numbers for streaming queries: each run gets a fresh checkpoint
#: (so the offset log replays from initialOffset) and query name.
STREAM_RUNS = itertools.count()


def drain_to_memory(
    spark: SparkSession, sf_dir: str, stream_df: DataFrame, tag: str
) -> DataFrame:
    """Run ``stream_df`` to completion into a memory sink under a fresh
    checkpoint and return the collected result as a batch frame."""
    run = next(STREAM_RUNS)
    ckpt = _scratch(sf_dir, f"{tag}_ckpt_{run}")
    shutil.rmtree(ckpt, ignore_errors=True)
    name = f"{tag}_out_{run}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


_EVENTS_READ_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@query(
    "scan_parquet",
    oracle="""
    SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table scan + count (count(*) is answered from parquet row-group
    metadata — no column IO)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"), F.countDistinct("l_orderkey").alias("n_orders")
    )


@query(
    "scan_pushdown",
    oracle="""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate pushdown: ReadSchema carries 3 of 11 columns
    and the date range lands in PushedFilters (plan asserted in
    tests/test_plans.py) — at 100 TB this is row-group skipping."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("l_orderkey", "l_extendedprice")


@query(
    "source_csv_roundtrip",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header, microsecond ISO timestamps) → typed read-back;
    must equal the parquet view byte-for-byte (doubles survive via
    shortest-round-trip formatting, the JSON props column via CSV quoting).
    ts is TIMESTAMP_NTZ end-to-end → the NTZ-specific format option."""
    path = _scratch(sf_dir, "events_csv")
    e = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    e.write.mode("overwrite").option("header", True).option(
        "timestampNTZFormat", _TS_FMT
    ).csv(path)
    return (
        spark.read.schema(_EVENTS_READ_SCHEMA)
        .option("header", True)
        .option("timestampNTZFormat", _TS_FMT)
        .csv(path)
    )


@query(
    "source_json_roundtrip",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same round-trip through JSON lines (props nests as an escaped JSON
    string inside the JSON document)."""
    path = _scratch(sf_dir, "events_json")
    e = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    e.write.mode("overwrite").option("timestampNTZFormat", _TS_FMT).json(path)
    return (
        spark.read.schema(_EVENTS_READ_SCHEMA)
        .option("timestampNTZFormat", _TS_FMT)
        .json(path)
    )


@query(
    "source_orc_roundtrip",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same round-trip through ORC — the second columnar format the Spark
    reader stack supports natively (vectorized read, predicate pushdown,
    column pruning — same scan contract as parquet). Binary format with a
    real type system: TIMESTAMP_NTZ and doubles survive without the
    text-format escaping concerns of CSV/JSON, so no format options are
    needed; the explicit read schema still pins column types (never
    inferred, per module contract)."""
    path = _scratch(sf_dir, "events_orc")
    e = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    e.write.mode("overwrite").orc(path)
    return spark.read.schema(_EVENTS_READ_SCHEMA).orc(path)


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT
      CAST(year(o_orderdate) AS BIGINT) AS o_year,
      count(*)                          AS n_orders,
      round(sum(o_totalprice), 2)       AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by order year, read the partitioned layout
    back, aggregate per partition. Year-partitioned layout means time-range
    queries prune whole directories (static + dynamic partition pruning)."""
    path = _scratch(sf_dir, "orders_by_year")
    o = t(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("o_year").cast("long").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n_orders"), r2(F.sum("o_totalprice")).alias("revenue")
    )


@query(
    "scan_union_dirs",
    oracle="SELECT DISTINCT r_regionkey, r_name FROM region",
)
def scan_union_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path scan: the same dataset listed twice in one reader call
    (directory-of-datasets ingestion shape), then distinct. The paths
    derive from sf_dir ONLY — an earlier version globbed sibling
    scale-factor directories, which made the oracle depend on foreign /
    partially-written siblings existing with identical region content."""
    path = os.path.join(os.path.abspath(sf_dir), "region.parquet")
    return spark.read.parquet(path, path).distinct()


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS name_len FROM region
    UNION ALL
    SELECT r_regionkey, r_name, length(r_name) AS name_len FROM region
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the same table —
    the original and one with an added column — read in a single
    mergeSchema scan; old-generation rows surface NULL for the new
    column. This is the append-only-ingest reality at 100 TB (producers
    add columns mid-stream; readers must union schemas without rewriting
    history). mergeSchema footer-merging costs a per-file footer read at
    planning time — on a large lake the production form pins the merged
    schema explicitly (as every other reader in this module does) and
    leaves mergeSchema for discovery."""
    r = t(spark, sf_dir, "region")
    v1 = _scratch(sf_dir, "region_v1")
    v2 = _scratch(sf_dir, "region_v2")
    r.write.mode("overwrite").parquet(v1)
    r.withColumn("name_len", F.length("r_name").cast("long")).write.mode(
        "overwrite"
    ).parquet(v2)
    return spark.read.option("mergeSchema", "true").parquet(v1, v2)


@query(
    "sink_compact_files",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def sink_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every streaming/
    micro-batch ingest needs: a deliberately fragmented layout (64 tiny
    files — the 'one file per trigger' pathology) is rewritten as 4
    time-range-clustered files. `repartitionByRange(ts)` + in-partition
    sort makes the compacted files non-overlapping in event time, so
    row-group min/max stats prune time-range scans afterward; plain
    `coalesce` would avoid the shuffle but concatenates arbitrary file
    contents (no clustering, skewed sizes). Rows are layout-invariant —
    the oracle is the identity — and the file-count contract is pinned in
    tests/test_units_round2b.py. At 100 TB this runs per partition
    (compact yesterday's directory), never whole-table."""
    e = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    frag = _scratch(sf_dir, "events_fragmented")
    compacted = _scratch(sf_dir, "events_compacted")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    (
        spark.read.schema(_EVENTS_READ_SCHEMA)
        .parquet(frag)
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(compacted)
    )
    return spark.read.schema(_EVENTS_READ_SCHEMA).parquet(compacted)


@query(
    "source_csv_malformed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input resilience: nation is written to CSV, a file of
    corrupt lines (wrong arity, unparsable int) is injected into the
    directory, and the DROPMALFORMED read must recover exactly the clean
    rows — the quarantine-don't-crash contract batch ingest needs when one
    bad file lands in a 100k-file drop. The oracle is the clean identity.

    DROPMALFORMED alone is NOT enough: Spark's CSV parser only detects a
    malformed row while parsing its columns, so a column-pruned plan (e.g.
    a bare count()) skips detection and over-counts. The explicit not-null
    guards force the parse and pin the row set for every plan shape."""
    path = _scratch(sf_dir, "nation_malformed_csv")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.mode("overwrite").option("header", True).csv(path)
    # inject a corrupt member file (header consumed per-file by the reader)
    with open(os.path.join(path, "part-malformed.csv"), "w") as f:
        f.write("n_nationkey,n_name,n_regionkey\n")
        f.write("xx,BADROW\n")
        f.write("999,NOREGION,notanint\n")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(path)
        .where(
            F.col("n_nationkey").isNotNull()
            & F.col("n_name").isNotNull()
            & F.col("n_regionkey").isNotNull()
        )
    )


@query(
    "scan_dpp_partitioned",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           count(*)                          AS n_orders,
           round(sum(o_totalprice), 2)       AS total
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1
    """,
)
def scan_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: orders lands year-partitioned, the year
    dimension is filtered at runtime, and the fact scan must prune to the
    two matching partition directories via the reused broadcast result —
    the plan carries `dynamicpruningexpression` in PartitionFilters
    (asserted in tests/test_plans.py). At 100 TB this is the difference
    between scanning 2 partitions and scanning 25; static pruning can't do
    it because the year set comes from another relation, not a literal."""
    path = _scratch(sf_dir, "orders_by_year_dpp")
    o = t(spark, sf_dir, "orders")
    o.withColumn("o_year", F.year("o_orderdate").cast("long")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        fact.select(F.col("o_year").alias("d_year"))
        .distinct()
        .where((F.col("d_year") >= 1996) & (F.col("d_year") <= 1997))
    )
    return (
        fact.join(F.broadcast(dim), fact["o_year"] == dim["d_year"])
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r2(F.sum("o_totalprice")).alias("total"),
        )
    )


@query(
    "scan_file_metadata",
    oracle="""
    SELECT 'lineitem.parquet'         AS file_name,
           count(*)                   AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion observability via the hidden ``_metadata`` file-source
    column: per-input-file row counts straight from the scan — the
    per-file audit a 100k-file drop needs to spot short files without a
    separate listing job. The catalog table is a single known file, so
    the oracle pins the expected basename as a constant — a match
    certifies the metadata column's file attribution AND that exactly one
    file fed the scan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "file_name"
            ),
            "l_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@query(
    "scan_recursive_glob",
    oracle="SELECT r_regionkey, r_name FROM region UNION ALL SELECT r_regionkey, r_name FROM region",
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingestion: the same dataset written into two
    nested date-style subdirectories (dt=.../batch=...) and read back with
    ``recursiveFileLookup`` from the ROOT — the directory-tree drop-zone
    shape (the reference's directory-of-FITS-files ingestion) where
    partition discovery is off and every file at any depth is data."""
    root = _scratch(sf_dir, "region_tree")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.write.mode("overwrite").parquet(os.path.join(root, "dt=2026-01-01", "batch=a"))
    r.write.mode("overwrite").parquet(os.path.join(root, "dt=2026-01-02", "batch=b"))
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("r_regionkey int, r_name string")
        .parquet(root)
    )


@query(
    "source_binaryfile_scan",
    oracle="""
    SELECT vec_id            AS asset_id,
           CAST(256 AS BIGINT) AS n_bytes
    FROM embeddings
    WHERE CAST(label AS INTEGER) % 3 = 0
    """,
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset ingestion via Spark's `binaryFile` format — the way
    raw media lands in a lakehouse (one file per asset on the object
    store; the scan is distributed, one task per file split, with
    pathGlobFilter pruning non-matching names before any read). Here the
    image payloads (raw-f32, 256 bytes) are materialized as *.bin files
    in a pid-scoped scratch dir, read back with binaryFile, asset ids
    re-parsed from filenames, and sizes verified against the source.
    Content fidelity (byte-for-byte CRC vs synthesize_media) is pinned in
    tests/test_units_round2j.py — the oracle certifies discovery
    completeness + metadata (every asset found, every length right)."""
    import os as _os

    from ..functions.multimodal import synthesize_media

    media = synthesize_media(spark, sf_dir).filter(F.col("media_type") == "image")
    out_dir = _scratch(sf_dir, "binary_assets")
    _os.makedirs(out_dir, exist_ok=True)
    # fixture materialization (standing in for assets already resident on
    # an object store) runs EXECUTOR-SIDE: each partition writes its own
    # files, so no payload ever crosses the driver. In local mode the
    # target is the shared local FS; on a cluster this write would target
    # the object store the binaryFile scan then reads.
    def _write_assets(rows) -> None:
        for row in rows:
            with open(_os.path.join(out_dir, f"asset_{row.asset_id}.bin"), "wb") as fh:
                fh.write(bytes(row.payload))

    media.select("asset_id", "payload").foreachPartition(_write_assets)
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "asset_*.bin")
        .load(out_dir)
    )
    return scanned.select(
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1), r"asset_(\d+)\.bin", 1
        )
        .cast("long")
        .alias("asset_id"),
        F.col("length").alias("n_bytes"),
    )


@query(
    "source_xml_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through native XML (new first-class format in Spark
    4.0 — previously the external spark-xml package): write `nation` as
    <nation> row elements, read back with an explicit schema. XML is the
    interchange format ERP/legacy feeds still arrive in; the reader
    infers-or-takes row tags and is splittable per file. Avro remains
    environment-bounded here (external spark-avro jar not shipped in the
    pip distribution — 'Failed to find data source: avro')."""
    path = _scratch(sf_dir, "nation_xml")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.mode("overwrite").option("rowTag", "nation").format("xml").save(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema).option("rowTag", "nation").format("xml").load(path)
    )


@query(
    "sink_clustered_buckets",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, CAST(floor(o_orderkey / 2000) AS BIGINT) AS bucket
      FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           CAST(1 AS BIGINT) AS n_files
    FROM b GROUP BY bucket
    """,
)
def sink_clustered_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-range clustering sink — the data-skipping layout
    contract, verified from the files themselves: orders are bucketed by
    a FIXED key width (floor(key/2k) — constant boundaries, unlike
    repartitionByRange's sampled ones, so any two runs produce identical
    layouts), shuffled so each bucket is written by one task, sorted
    within, and written `partitionBy(bucket)`. The result is read back
    with `_metadata.file_path` and the per-bucket (row count, key
    min/max, file count) is computed from the PERSISTED layout — the
    oracle then certifies disjoint key ranges and exactly one file per
    bucket. This is the layout under scan_dpp_partitioned /
    sink_compact_files' pruning claims: min/max row-group stats only
    prune when ranges don't overlap, and 'one file per bucket' is what
    keeps file listings O(buckets) at 100 TB. (The fixed key WIDTH here
    is the oracle-pinned determinism contract; byte-targeted bucket
    COUNTS — the round-11 sizing lane — live in functions/layout.py,
    sink_bucketed_sized, and join_bucketed_colocated.)"""
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    bucketed = o.withColumn(
        "bucket", F.floor(F.col("o_orderkey") / 2_000).cast("long")
    )
    path = _scratch(sf_dir, "orders_clustered")
    (
        bucketed.repartition("bucket")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        "o_orderkey", "bucket", F.col("_metadata.file_path").alias("fp")
    )
    return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.countDistinct("fp").alias("n_files"),
    )


@query(
    "scan_manifest_snapshot",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    WHERE event_id % 3 = 0
    GROUP BY event_type
    """,
)
def scan_manifest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pinned snapshot reads — the mechanism under every table
    format's time travel (Iceberg/Delta), built from first principles on
    plain parquet: version 1 commits files A (event_id%3=0), version 2
    adds files B (the rest) and writes a NEW manifest listing A∪B; a
    reader pinned to manifest v1 passes EXACTLY v1's file list to
    spark.read.parquet and sees the v1 snapshot — regardless of what
    lands in the directory afterward. That's the whole isolation
    contract: readers name files via a manifest, never via directory
    listing, so writers can commit concurrently and old snapshots stay
    queryable. The manifest here is a one-line-per-file text file; the
    driver-visible result aggregates the v1 snapshot (oracle = the v1
    predicate on the source table). At 100 TB manifests also carry
    per-file min/max stats for pruning — scan_file_metadata's
    per-file stats are exactly what gets lifted into them."""
    import os

    e = t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    root = _scratch(sf_dir, "manifest_table")
    v1_dir, v2_dir = os.path.join(root, "data_v1"), os.path.join(root, "data_v2")
    e.where(F.col("event_id") % 3 == 0).write.mode("overwrite").parquet(v1_dir)
    e.where(F.col("event_id") % 3 != 0).write.mode("overwrite").parquet(v2_dir)

    def files_of(d):
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "manifest_v1.txt"), "w") as fh:
        fh.write("\n".join(files_of(v1_dir)))
    with open(os.path.join(root, "manifest_v2.txt"), "w") as fh:
        fh.write("\n".join(files_of(v1_dir) + files_of(v2_dir)))

    with open(os.path.join(root, "manifest_v1.txt")) as fh:
        v1_files = [line for line in fh.read().splitlines() if line]
    snapshot_v1 = spark.read.parquet(*v1_files)
    return snapshot_v1.groupBy("event_type").agg(
        bi(F.count(F.lit(1))).alias("n"),
        bi(F.sum("user_id")).alias("sum_users"),
    )


@query(
    "gen_date_dimension",
    oracle="""
    SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS day,
           CAST(year(d) AS BIGINT) AS yr,
           CAST(month(d) AS BIGINT) AS mth,
           CAST(quarter(d) AS BIGINT) AS qtr,
           CAST(isodow(d) AS BIGINT) AS iso_dow,
           isodow(d) >= 6 AS is_weekend,
           CAST(strftime(d, '%Y-%m') AS VARCHAR) AS month_key
    FROM generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY) t(d)
    """,
)
def gen_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension (calendar spine) generation — the one table every
    warehouse has and no source system provides: two years of days with
    the standard attributes (ISO weekday, weekend flag, quarter, month
    key), generated ENGINE-SIDE from a sequence expression — no source
    scan, no driver loop, and deterministic by construction. The spine
    is what densifies sparse series (ts_gapfill_locf's day axis), what
    calendar joins key on, and at 100 TB it is still ~40k rows for a
    century — always broadcastable, generated at plan time. ISO weekday
    (Mon=1..Sun=7) is used for engine parity: Spark's dayofweek() is
    Sun=1-based, DuckDB's isodow is Mon=1 — the expression here
    normalizes to ISO on both sides (SURVEY §5.3 calendar hazard)."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1996-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    iso_dow = ((F.dayofweek("d") + 5) % 7) + 1
    return spine.select(
        F.col("d").cast("string").alias("day"),
        bi(F.year("d")).alias("yr"),
        bi(F.month("d")).alias("mth"),
        bi(F.quarter("d")).alias("qtr"),
        bi(iso_dow).alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.date_format("d", "yyyy-MM").alias("month_key"),
    )


@query(
    "source_csv_multiline_quoted",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS rec_id, 'plain value' AS note, CAST(10 AS BIGINT) AS qty
    UNION ALL
    SELECT 2, 'has, comma and "quotes"', 20
    UNION ALL
    SELECT 3, 'spans
two lines', 30
    UNION ALL
    SELECT 4, NULL, 40
    """,
)
def source_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect hard cases in one fixture: quoted fields containing the
    delimiter, RFC-4180 doubled quotes, embedded NEWLINES (the case that
    breaks naive line-splitting readers AND breaks Spark's default
    line-per-record fast path — ``multiLine=true`` switches the whole
    file to a single-record-boundary parse, which is also why production
    pipelines avoid multiline CSV at scale: the file stops being
    splittable, one task per file), and empty-as-NULL. The fixture is
    written as literal bytes (the writer under test is the READER); the
    oracle pins the exact decoded values per RFC semantics. At 100 TB:
    multiline CSV files cap parallelism at file count — the documented
    mitigation is converting to parquet at ingest (source_csv_roundtrip's
    economics)."""
    base = _scratch(sf_dir, "csv_multiline")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "data.csv")
    with open(path, "w") as fh:
        fh.write(
            'rec_id,note,qty\n'
            '1,plain value,10\n'
            '2,"has, comma and ""quotes""",20\n'
            '3,"spans\ntwo lines",30\n'
            '4,,40\n'
        )
    return (
        spark.read.schema("rec_id long, note string, qty long")
        .option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


_FW_SPEC = (("sensor_id", 0, 6), ("site", 6, 10), ("reading", 16, 8))


@query(
    "source_fixed_width",
    oracle="""
    SELECT CAST(i AS BIGINT)                          AS sensor_id,
           'SITE' || lpad(CAST(i % 7 AS VARCHAR), 2, '0') AS site,
           round(0.25 * i, 2)                         AS reading
    FROM range(0, 200) t(i)
    """,
)
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text ingestion (mainframe exports, instrument dumps —
    formats with NO delimiter): read as plain text lines, slice columns
    by (offset, width) with JVM substring projections, trim + cast per
    the spec table. The column spec is declarative data (_FW_SPEC), so
    adding fields is a spec row, not parser code. Text-line reads split
    by HDFS block exactly like CSV, so this scales as any line format;
    the substring/cast projection is whole-stage-codegen'd — the entire
    parse costs one pass, no Python. Fixture written as literal bytes
    (the reader is the unit under test); full value oracle."""
    base = _scratch(sf_dir, "fixed_width")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "data.txt")
    with open(path, "w") as fh:
        for i in range(200):
            fh.write(f"{i:<6d}SITE{i % 7:02d}    {0.25 * i:<8.2f}\n")
    lines = spark.read.text(path)
    cols = []
    for name, off, width in _FW_SPEC:
        raw = F.trim(F.substring("value", off + 1, width))
        if name == "sensor_id":
            cols.append(raw.cast("long").alias(name))
        elif name == "reading":
            cols.append(F.round(raw.cast("double"), 2).alias(name))
        else:
            cols.append(raw.alias(name))
    return lines.select(*cols)
