"""§2-A addendum — custom connector via the Spark 4 Python DataSource API.

The reference-pipeline shape this covers is "ingest from an instrument/
domain format Spark has no reader for" (directories of FITS files, sensor
dumps, proprietary telemetry): you write a DataSource that describes its
schema and splits itself into partitions, and every executor materializes
its own split in parallel — no driver-side file loop, no RDD plumbing.

Here the connector is a deterministic synthetic telemetry generator (the
environment has no media/instrument libraries, so the FORMAT is the point,
not the decoder): each of the 8 input partitions generates its own id
range, proving the parallel-split contract. The DuckDB oracle recomputes
the same rows from `range()` — a value match certifies the partitioning
arithmetic and the row synthesis, end to end through the Arrow return
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query

_KNUTH = 2654435761
_N_ROWS = 1000
_N_PARTS = 8
_BASE_US = 1_700_000_000_000_000


def _make_datasource():
    # deferred import: pyspark.sql.datasource exists only on Spark 4+
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class _TelemetryReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", _N_ROWS))
            self.n_parts = int(options.get("n_parts", _N_PARTS))

        def partitions(self):
            step = (self.n + self.n_parts - 1) // self.n_parts
            return [
                _RangePartition(lo, min(lo + step, self.n))
                for lo in range(0, self.n, step)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                u = ((i * _KNUTH) % 4294967296 + 1) / 4294967296.0
                yield (i, _BASE_US + i * 1_000_000, round(u, 6))

    class SyntheticTelemetryDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_telemetry"

        def schema(self) -> str:
            return "sensor_id bigint, ts_us bigint, reading double"

        def reader(self, schema):
            return _TelemetryReader(self.options)

    return SyntheticTelemetryDataSource


@query(
    "source_python_datasource",
    oracle=f"""
    SELECT CAST(i AS BIGINT)                    AS sensor_id,
           {_BASE_US} + i * 1000000             AS ts_us,
           round((((i * {_KNUTH}) % 4294967296) + 1) / 4294967296.0, 6) AS reading
    FROM range(0, {_N_ROWS}) t(i)
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the custom Python DataSource and read it with the ordinary
    reader API (`spark.read.format("synthetic_telemetry")`). The source
    declares {_N_PARTS} input partitions, so the scan parallelizes like
    any file source; rows come back over Arrow. Registration is
    idempotent per session (re-register overwrites)."""
    spark.dataSource.register(_make_datasource())
    return (
        spark.read.format("synthetic_telemetry")
        .option("n", _N_ROWS)
        .option("n_parts", _N_PARTS)
        .load()
    )


def _make_sink_datasource():
    # deferred import: pyspark.sql.datasource exists only on Spark 4+
    import json
    import os
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _PartFile(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int) -> None:
            self.path, self.n_rows = path, n_rows

    class _JsonlWriter(DataSourceWriter):
        """Executor-side writer: each partition streams its rows to its
        own JSONL part file (written to a temp name, renamed on success —
        the task-level atomicity half of the commit protocol), and
        returns a commit message naming the file. The driver-side
        commit() then writes the manifest listing exactly the committed
        parts — the same manifest-names-files contract
        scan_manifest_snapshot reads by, closing the write side of it."""

        def __init__(self, options: dict) -> None:
            self.path = options["path"]

        def write(self, rows):
            os.makedirs(self.path, exist_ok=True)
            tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(tmp, "w") as fh:
                for row in rows:
                    fh.write(json.dumps(row.asDict()) + "\n")
                    n += 1
            final = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
            os.rename(tmp, final)
            return _PartFile(final, n)

        def _sweep_tmp(self) -> None:
            # orphaned temp files from aborted/retried tasks are never
            # renamed; the driver-side commit/abort is the only safe
            # place to sweep them (no task can still be writing). abort()
            # can fire before any task created the directory — don't let
            # a FileNotFoundError here mask the original write failure.
            if not os.path.isdir(self.path):
                return
            for name in os.listdir(self.path):
                if name.startswith(".tmp-"):
                    os.remove(os.path.join(self.path, name))

        def commit(self, messages):
            manifest = {
                "files": sorted(m.path for m in messages),
                "n_rows": sum(m.n_rows for m in messages),
            }
            with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
                json.dump(manifest, fh)
            self._sweep_tmp()

        def abort(self, messages):
            for m in messages:
                if os.path.exists(m.path):
                    os.remove(m.path)
            self._sweep_tmp()

    class JsonlSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_manifest_sink"

        def schema(self) -> str:
            return "n_nationkey bigint, n_name string, n_regionkey bigint"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options)

    return JsonlSinkDataSource


@query(
    "sink_python_datasource",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Spark 4 Python DataSource WRITER API — the
    write-side twin of source_python_datasource ("export to a format /
    system Spark has no writer for": a domain archiver, a bespoke
    service ingest). Executors write per-partition JSONL part files
    under temp-then-rename task atomicity and return commit messages;
    the driver-side commit() materializes a manifest naming exactly the
    committed files — the two-phase commit contract every real sink
    (including FileCommitProtocol itself) implements, demonstrated here
    end to end and READ BACK through the manifest (the
    scan_manifest_snapshot discipline: readers trust the manifest, not
    the directory). Round-trip identity on nation is the oracle."""
    import json

    from ..catalog import load_table as t
    from .sources import _scratch

    spark.dataSource.register(_make_sink_datasource())
    out = _scratch(sf_dir, "pyds_sink")
    # the sink appends part files into the directory; clearing first makes
    # repeated runs idempotent (reads were always correct via the manifest,
    # but the directory would otherwise grow unboundedly).
    import os as _os
    import shutil as _shutil

    if _os.path.isdir(out):
        _shutil.rmtree(out)
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.format("jsonl_manifest_sink").mode("append").option("path", out).save()

    with open(f"{out}/_MANIFEST.json") as fh:
        manifest = json.load(fh)
    back = spark.read.schema("n_nationkey long, n_name string, n_regionkey long").json(
        manifest["files"]
    )
    return back


_STREAM_N = 30
_STREAM_BATCH = 10


def _make_stream_datasource():
    from ..streaming.tail import tail_source

    # Local functions pickle by value, so a Python worker that unpickles
    # this reader never imports the operator registry (pinned in
    # tests/test_stream_tail_contract.py).
    def latest(_path, seen: int) -> int:
        # paced from the highest offset the engine has shown the reader
        # (the checkpoint state after a restart), never from 0
        return min(seen + _STREAM_BATCH, _STREAM_N)

    def plan(_path, lo: int, hi: int) -> list[tuple]:
        return [(lo, hi)]

    def read_partition(split):
        return iter([(j, j * j) for j in range(split.start, split.end)])

    return tail_source(
        "synthetic_telemetry_stream",
        "reading_id bigint, reading_sq bigint",
        key="i",
        initial=0,
        latest=latest,
        plan=plan,
        fields=("start", "end"),
        read_partition=read_partition,
    )


@query(
    "source_python_stream_datasource",
    oracle=f"""
    SELECT CAST(i AS BIGINT)     AS reading_id,
           CAST(i * i AS BIGINT) AS reading_sq
    FROM range(0, {_STREAM_N}) t(i)
    """,
)
def source_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source via the Spark 4 Python DataSource
    partition-based DataSourceStreamReader — the third leg of the Python
    DataSource surface (batch read: source_python_datasource;
    two-phase-commit write: sink_python_datasource): a replayable
    offset-tracked source ("consume a feed Spark has no connector for")
    producing 30 deterministic rows over 3 micro-batches — the driver
    plans offset ranges, EXECUTORS generate the rows — drained to
    completion through a real readStream → memory-sink query (fresh
    checkpoint per run so the offset log replays from initialOffset)
    and returned as the collected batch result against a full value
    oracle. The pure partitions(start, end) replay contract — not the
    happy-path read() — is what makes the source recovery-safe at scale;
    checkpoint recovery for this engine's streams is separately pinned
    in tests/test_streaming_recovery.py."""
    from .sources import drain_to_memory

    spark.dataSource.register(_make_stream_datasource())
    stream = spark.readStream.format("synthetic_telemetry_stream").load()
    return drain_to_memory(spark, sf_dir, stream, "pystream")


@query(
    "stream_foreachbatch_sink",
    oracle=f"""
    SELECT CAST(i AS BIGINT)     AS reading_id,
           CAST(i * i AS BIGINT) AS reading_sq
    FROM range(0, {_STREAM_N}) t(i)
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → transactional-sink composition: the custom streaming
    source drains through ``foreachBatch``, and EACH micro-batch commits
    through the two-phase jsonl_manifest_sink as its own transaction
    (per-epoch directory + manifest) — exactly the exactly-once recipe
    real pipelines use with foreachBatch + a transactional sink: the
    epoch id keys the transaction, a replayed batch overwrites its own
    epoch rather than double-appending, and readers union the committed
    manifests. Read-back goes through the manifests only (never the
    directory listing), and the full value oracle certifies the whole
    loop: offsets → micro-batches → per-epoch commits → manifest read."""
    import json
    import os
    import shutil

    from .sources import STREAM_RUNS, _scratch

    spark.dataSource.register(_make_stream_datasource())
    spark.dataSource.register(_make_sink_datasource())
    run = next(STREAM_RUNS)
    out = _scratch(sf_dir, f"pystream_febatch_{run}")
    ckpt = os.path.join(out, "_ckpt")
    shutil.rmtree(out, ignore_errors=True)

    def _commit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_dir = os.path.join(out, f"epoch={epoch_id}")
        # idempotent per epoch: a replayed batch rewrites its directory
        if os.path.isdir(epoch_dir):
            shutil.rmtree(epoch_dir)
        batch_df.write.format("jsonl_manifest_sink").mode("append").option(
            "path", epoch_dir
        ).save()

    q = (
        spark.readStream.format("synthetic_telemetry_stream")
        .load()
        .writeStream.foreachBatch(_commit_epoch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    files: list[str] = []
    for name in sorted(os.listdir(out)):
        manifest = os.path.join(out, name, "_MANIFEST.json")
        if os.path.exists(manifest):
            with open(manifest) as fh:
                files.extend(json.load(fh)["files"])
    return spark.read.schema("reading_id long, reading_sq long").json(files)


@query(
    "stream_static_enrich",
    oracle=f"""
    SELECT CAST(i AS BIGINT)     AS reading_id,
           n.n_name              AS n_name,
           CAST(i * i AS BIGINT) AS reading_sq
    FROM range(0, {_STREAM_N}) t(i)
    JOIN nation n ON n.n_nationkey = i % 25
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the dimension-enrichment shape every
    streaming pipeline runs (events stream ⋈ slowly-changing dim): the
    custom streaming source joins the STATIC nation DataFrame inside the
    streaming query, Spark re-plans the static side per micro-batch (so
    a dim refresh between batches is picked up — the operational reason
    to prefer stream-static join over baking the dim into the stream),
    and the drained result carries the enriched rows against a full
    value oracle. The static side broadcasts exactly as it would in a
    batch join; stream-static joins need no watermark because the
    static side never adds rows to state."""
    from pyspark.sql import functions as F

    from ..catalog import load_table as t
    from .sources import drain_to_memory

    spark.dataSource.register(_make_stream_datasource())
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    stream = spark.readStream.format("synthetic_telemetry_stream").load()
    enriched = stream.join(
        F.broadcast(nation), stream.reading_id % 25 == nation.n_nationkey
    ).select("reading_id", "n_name", "reading_sq")
    return drain_to_memory(spark, sf_dir, enriched, "pystream_enrich")
