"""Hudi Merge-on-Read snapshot reader.

Merge-on-read is the layout write-heavy Hudi tables use: updates and
deletes append to per-file-group ``.log`` files, and compaction folds
them into new base parquet later. The log files are Avro, decoded by
functions/avro_codec.py; the slices come from ``hudi_timeline``.

Wire format implemented here (hudi.apache.org/tech-specs, "Log File
Format" — the PUBLIC spec; the paired writer below produces the fixture
files, so framing parity is certified round-trip plus structural pins):

each log file is a sequence of BLOCKS, each framed as::

    #HUDI#                     6-byte magic
    block length               8-byte big-endian long (bytes after this field)
    log format version         4-byte int (1)
    block type                 4-byte int (1 = Avro data block)
    header                     map: 4-byte count, then per entry
                               4-byte key int + 4-byte value length + bytes
    content length             8-byte long
    content                    the block payload
    footer                     same map shape as header
    total block length         8-byte long (the WHOLE block incl. magic —
                               enables reverse scanning per the spec)

Avro data block payload (HoodieAvroDataBlock, format version 3)::

    content format version     4-byte int (3)
    record count               4-byte int
    per record: 4-byte length + Avro BINARY-encoded record

Header keys used: 1 = INSTANT_TIME, 3 = SCHEMA (the Avro record schema
JSON). Deletes ride the PUBLIC ``_hoodie_is_deleted`` sentinel column
(boolean true ⇒ tombstone) — the documented upsert-delete mechanism —
rather than a hand-rolled delete-block payload, so no wire bytes are
invented beyond the published framing.

Merge semantics (the Hudi read path): per record key, the LATEST record
across (base file, then log blocks in commit order, then record order
within a block) wins; a winning tombstone removes the key.

Scale notes: the timeline and block HEADERS are metadata; block PAYLOAD
decode runs EXECUTOR-side — log files are read via binaryFile and
decoded inside one mapInPandas pass (Arrow-batched), so a 100-TB table's
delta logs never pass through the driver. The merge is one groupBy on
the record key over base ∪ log records with max_by(ordering) — the same
single-shuffle latest-wins shape as cdc_latest_by_key; base rows carry
ordering 0 and log records their (instant, block, position) rank, so
compacted tables degrade to a pure parquet scan with an empty log side.
"""

from __future__ import annotations

import io
import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table as t
from ..functions.avro_codec import decode_record, encode_record
from ..registry import query
from . import hudi_timeline as ht
from .sources import built

_MAGIC = b"#HUDI#"
_LOG_FORMAT_VERSION = 1
_AVRO_DATA_BLOCK = 1
_CONTENT_FORMAT_VERSION = 3
_H_INSTANT_TIME = 1
_H_SCHEMA = 3


# ------------------------------------------------------------ log framing


def _encode_header(header: dict[int, str]) -> bytes:
    out = bytearray(struct.pack(">i", len(header)))
    for k in sorted(header):
        v = header[k].encode()
        out += struct.pack(">i", k) + struct.pack(">i", len(v)) + v
    return bytes(out)


def _decode_header(buf: io.BytesIO) -> dict[int, str]:
    (n,) = struct.unpack(">i", buf.read(4))
    out: dict[int, str] = {}
    for _ in range(n):
        (k,) = struct.unpack(">i", buf.read(4))
        (ln,) = struct.unpack(">i", buf.read(4))
        out[k] = buf.read(ln).decode()
    return out


def write_log_block(
    fh, block_type: int, header: dict[int, str], content: bytes
) -> None:
    """Append one framed block (layout in the module docstring)."""
    h = _encode_header(header)
    f = _encode_header({})
    body = (
        struct.pack(">i", _LOG_FORMAT_VERSION)
        + struct.pack(">i", block_type)
        + h
        + struct.pack(">q", len(content))
        + content
        + f
    )
    # total block length trailer covers magic + length field + body + itself
    total = len(_MAGIC) + 8 + len(body) + 8
    fh.write(_MAGIC)
    fh.write(struct.pack(">q", len(body) + 8))  # bytes after this field
    fh.write(body)
    fh.write(struct.pack(">q", total))


def read_log_blocks(data: bytes) -> list[tuple[int, dict[int, str], bytes]]:
    """Parse a log file's blocks → [(type, header, content)]. A torn tail
    (crashed writer mid-append) is detected by magic/length mismatch and
    everything from it on is ignored — the spec's corrupt-block rule."""
    out: list[tuple[int, dict[int, str], bytes]] = []
    buf = io.BytesIO(data)
    while True:
        magic = buf.read(6)
        if not magic:
            break
        if magic != _MAGIC:
            break  # torn/corrupt tail: stop at the last whole block
        (blen,) = struct.unpack(">q", buf.read(8))
        start = buf.tell()
        if len(data) - start < blen:
            break  # truncated block
        (ver,) = struct.unpack(">i", buf.read(4))
        if ver != _LOG_FORMAT_VERSION:
            raise ValueError(f"unsupported Hudi log format version {ver}")
        (btype,) = struct.unpack(">i", buf.read(4))
        header = _decode_header(buf)
        (clen,) = struct.unpack(">q", buf.read(8))
        content = buf.read(clen)
        _decode_header(buf)  # footer
        buf.seek(start + blen)  # trailer consumed via the declared length
        out.append((btype, header, content))
    return out


def encode_avro_data_block(schema: dict, records: list[dict]) -> bytes:
    """HoodieAvroDataBlock payload v3: version, count, then
    length-prefixed Avro-binary records."""
    out = bytearray(
        struct.pack(">i", _CONTENT_FORMAT_VERSION) + struct.pack(">i", len(records))
    )
    for r in records:
        b = encode_record(schema, r)
        out += struct.pack(">i", len(b)) + b
    return bytes(out)


def decode_avro_data_block(schema: dict, content: bytes) -> list[dict]:
    buf = io.BytesIO(content)
    (ver,) = struct.unpack(">i", buf.read(4))
    if ver != _CONTENT_FORMAT_VERSION:
        raise ValueError(f"unsupported Hudi data-block content version {ver}")
    (n,) = struct.unpack(">i", buf.read(4))
    out = []
    for _ in range(n):
        (ln,) = struct.unpack(">i", buf.read(4))
        out.append(decode_record(schema, buf.read(ln)))
    return out


# ------------------------------------------------------------ merge read


def _log_record_schema(spark_schema: T.StructType) -> dict:
    m = {
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.StringType(): "string",
        T.DoubleType(): "double",
        T.BooleanType(): "boolean",
    }
    return {
        "type": "record",
        "name": "hudi_log_record",
        "fields": [
            {"name": f.name, "type": ["null", m[f.dataType]], "default": None}
            for f in spark_schema.fields
        ],
    }


def _decoded_log_records(
    spark: SparkSession,
    base: str,
    log_paths: list[str],
    out_schema: T.StructType,
) -> DataFrame:
    """Executor-side decode of framed log files → records frame with the
    ``__ord`` ordering column (file commit order × in-file position)."""
    merged_cols = [f.name for f in out_schema.fields]
    rank_by_name = {
        os.path.basename(p): i + 1 for i, p in enumerate(log_paths)
    }

    def _decode_logs(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, file_row in pdf.iterrows():
                fname = os.path.basename(file_row["path"])
                file_rank = rank_by_name[fname]
                blocks = read_log_blocks(file_row["content"])
                pos = 0
                for btype, header, content in blocks:
                    if btype != _AVRO_DATA_BLOCK:
                        raise ValueError(
                            f"unsupported Hudi log block type {btype}"
                        )
                    sch = json.loads(header[_H_SCHEMA])
                    for rec in decode_avro_data_block(sch, content):
                        pos += 1
                        rec = dict(rec)
                        # ordering: log files in commit order, records
                        # in block/record order within the file
                        rec["__ord"] = file_rank * 1_000_000 + pos
                        rows.append(rec)
            yield pd.DataFrame(rows if rows else None, columns=merged_cols)

    logs_bin = spark.read.format("binaryFile").load(
        [os.path.join(base, p) for p in log_paths]
    )
    return logs_bin.select("path", "content").mapInPandas(
        _decode_logs, schema=out_schema
    )


def hudi_mor_snapshot(
    spark: SparkSession,
    base: str,
    as_of: str | None = None,
    fids: set[str] | None = None,
    keep_key: bool = False,
) -> DataFrame:
    """Merge-on-read snapshot (optionally AS OF an instant): base parquet
    ∪ executor-decoded log records → one record-key groupBy taking the
    max-ordering record → drop tombstones and meta columns.

    ``fids`` restricts the merge to those file groups' slices (the
    compactor's per-group view — record keys map to exactly one file
    group, so a group's merge never needs another group's slice);
    ``keep_key`` retains ``_hoodie_record_key`` in the output (the
    compactor re-emits it into the new base slice)."""
    slices = ht.file_slices(base, as_of)
    if fids is not None:
        slices = {fid: s for fid, s in slices.items() if fid in fids}
    base_paths = sorted(p for p, _ in slices.values() if p is not None)
    log_paths = sorted(p for _, logs in slices.values() for p in logs)
    if not base_paths:
        raise ValueError(f"no completed base files under {base}")
    bdf = spark.read.parquet(*[os.path.join(base, p) for p in base_paths])
    data_cols = [
        c
        for c in bdf.columns
        if not c.startswith("_hoodie_") or c == "_hoodie_record_key"
    ]
    out_schema = T.StructType(
        [bdf.schema[c] for c in data_cols]
        + [
            T.StructField("_hoodie_is_deleted", T.BooleanType(), True),
            T.StructField("__ord", T.LongType(), False),
        ]
    )
    merged_cols = [f.name for f in out_schema.fields]
    based = bdf.select(
        *data_cols,
        F.lit(False).alias("_hoodie_is_deleted"),
        F.lit(0).cast("long").alias("__ord"),
    )
    if not log_paths:
        union = based
    else:
        union = based.unionByName(
            _decoded_log_records(spark, base, log_paths, out_schema)
        )
    latest = (
        union.groupBy("_hoodie_record_key")
        .agg(
            *[
                F.max_by(c, "__ord").alias(c)
                for c in merged_cols
                if c not in ("_hoodie_record_key", "__ord")
            ]
        )
        .where(~F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False)))
    )
    keep = [c for c in data_cols if not c.startswith("_hoodie_")]
    return latest.select((["_hoodie_record_key"] if keep_key else []) + keep)


# --------------------------------------------------------------- fixture


def _build_mor_fixture(spark: SparkSession, sf_dir: str) -> str:
    """MoR table over nation: instant 001 (.commit) writes base file
    fg-a with '-old' names for keys < 12; instant 002 (.deltacommit)
    appends fg-a.log.1 with TWO blocks — block 1 UPSERTS the clean names
    for keys < 12, block 2 TOMBSTONES keys ≡ 0 (mod 5) via
    ``_hoodie_is_deleted``; deltacommit 003 stays INFLIGHT, and the
    garbage log its writer left must stay invisible. Snapshot = clean
    nation minus the multiples of five."""

    def build(base: str) -> None:
        from .lakehouse_interop import _stage_single_parquet

        ht.create_table(base, "MERGE_ON_READ")
        n = t(spark, sf_dir, "nation")
        based = n.select(
            F.lit("001").alias("_hoodie_commit_time"),
            F.col("n_nationkey").cast("string").alias("_hoodie_record_key"),
            F.when(F.col("n_nationkey") < 12, F.concat("n_name", F.lit("-old")))
            .otherwise(F.col("n_name"))
            .alias("n_name"),
            "n_nationkey",
            "n_regionkey",
        )

        def write_base(instant: str) -> list[tuple[str, str]]:
            rel = f"fg-a_0-0-0_{instant}.parquet"
            _stage_single_parquet(based, os.path.join(base, rel))
            return [("fg-a", rel)]

        ht.commit(base, write_base, action="commit", operation="upsert", instant="001")

        spark_schema = T.StructType(
            [
                T.StructField("_hoodie_record_key", T.StringType(), True),
                T.StructField("n_name", T.StringType(), True),
                T.StructField("n_nationkey", T.IntegerType(), True),
                T.StructField("n_regionkey", T.IntegerType(), True),
                T.StructField("_hoodie_is_deleted", T.BooleanType(), True),
            ]
        )
        avro_schema = _log_record_schema(spark_schema)
        rows = sorted(
            n.select("n_nationkey", "n_name", "n_regionkey").collect(),
            key=lambda r: r.n_nationkey,
        )

        def record(r, deleted: bool) -> dict:
            return {
                "_hoodie_record_key": str(r.n_nationkey),
                "n_name": None if deleted else r.n_name,
                "n_nationkey": r.n_nationkey,
                "n_regionkey": None if deleted else r.n_regionkey,
                "_hoodie_is_deleted": deleted,
            }

        upserts = [record(r, False) for r in rows if r.n_nationkey < 12]
        deletes = [record(r, True) for r in rows if r.n_nationkey % 5 == 0]

        def write_log(instant: str, n_log: int, blocks: list[list[dict]]) -> str:
            rel = f"fg-a_0-0-0.log.{n_log}_{instant}"
            hdr = {_H_INSTANT_TIME: instant, _H_SCHEMA: json.dumps(avro_schema)}
            with open(os.path.join(base, rel), "wb") as fh:
                for records in blocks:
                    block = encode_avro_data_block(avro_schema, records)
                    write_log_block(fh, _AVRO_DATA_BLOCK, hdr, block)
            return rel

        ht.commit(
            base,
            lambda i: [("fg-a", write_log(i, 1, [upserts, deletes]))],
            action="deltacommit",
            operation="upsert",
            instant="002",
        )
        # deltacommit 003's writer died after writing its log
        garbage = dict(upserts[0], n_name="GARBAGE")
        write_log(ht.begin(base, "deltacommit", instant="003"), 2, [[garbage]])

    return built(sf_dir, "hudi_mor", build)


@query(
    "scan_hudi_mor_snapshot",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey % 5 != 0
    """,
)
def scan_hudi_mor_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi MERGE-ON-READ snapshot: base parquet
    ('-old' names for keys < 12) merged at read time with a real framed
    ``.log`` file — block 1 upserts the clean names, block 2 tombstones
    the multiples of five via ``_hoodie_is_deleted`` — while an inflight
    instant's garbage log stays invisible. The identity-derived oracle
    certifies framing → avro decode → latest-wins merge → tombstone drop
    end to end. Log decode is executor-side (binaryFile + mapInPandas);
    the merge is ONE record-key shuffle (max_by latest-wins)."""
    base = _build_mor_fixture(spark, sf_dir)
    df = hudi_mor_snapshot(spark, base)
    return df.select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_hudi_mor_time_travel",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 12 THEN n_name || '-old' ELSE n_name END
             AS n_name,
           n_regionkey
    FROM nation
    """,
)
def scan_hudi_mor_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR time travel — AS OF instant 001, before the deltacommit: the
    read plans ONLY the base file (no logs exist yet at that instant),
    so the '-old' names resurface and the tombstoned keys are back.
    Pure timeline addressing, zero data work beyond the snapshot scan —
    the same metadata-only time-travel contract as the Delta/Iceberg
    lanes."""
    base = _build_mor_fixture(spark, sf_dir)
    return hudi_mor_snapshot(spark, base, as_of="001").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "scan_hudi_mor_incremental",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 5 = 0 THEN 'delete' ELSE 'upsert' END
             AS change_type,
           CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END AS n_name
    FROM nation
    WHERE n_nationkey < 12 OR n_nationkey % 5 = 0
    """,
)
def scan_hudi_mor_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi INCREMENTAL query over MoR logs: the latest change per
    record key committed AFTER instant 001 THROUGH instant 002 — the
    change-capture read pattern downstream consumers poll (Hudi's
    flagship feature). Changes come from the range's log files only
    (O(changed rows), never a table scan); a key touched twice in the
    range (the mod-5 keys are upserted then tombstoned) reports its
    LATEST state; tombstones surface as change_type='delete'. Same
    executor-side decode + one record-key max_by shuffle as the
    snapshot."""
    base = _build_mor_fixture(spark, sf_dir)
    # log files of instants in (001, 002]: timeline state at 002 minus
    # the base slices — for the fixture, exactly the 002 deltacommit log
    slices = ht.file_slices(base, as_of="002")
    log_paths = sorted(p for _, logs in slices.values() for p in logs)
    out_schema = T.StructType(
        [
            T.StructField("_hoodie_record_key", T.StringType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
            T.StructField("_hoodie_is_deleted", T.BooleanType(), True),
            T.StructField("__ord", T.LongType(), False),
        ]
    )
    recs = _decoded_log_records(spark, base, log_paths, out_schema)
    latest = recs.groupBy("_hoodie_record_key").agg(
        F.max_by("n_nationkey", "__ord").alias("n_nationkey"),
        F.max_by("n_name", "__ord").alias("n_name"),
        F.max_by("_hoodie_is_deleted", "__ord").alias("del_"),
    )
    return latest.select(
        "n_nationkey",
        F.when(F.coalesce(F.col("del_"), F.lit(False)), "delete")
        .otherwise("upsert")
        .alias("change_type"),
        F.when(F.coalesce(F.col("del_"), F.lit(False)), F.lit(None)).otherwise(
            F.col("n_name")
        ).alias("n_name"),
    )
