"""One offset-tracked, split-planned Python streaming source.

Every Python streaming tail in the engine (synthetic telemetry, Delta
CDF, Iceberg snapshot and changelog, Hudi incremental) is the same
partition-based ``DataSourceStreamReader``; a format supplies only

- ``latest(path, seen)``: the newest offset value the source can admit
  (``seen`` is the highest offset the engine has shown the reader, so a
  paced source resumes from its checkpoint after a restart);
- ``plan(path, lo, hi)``: the metadata-only split plan of the offset
  range ``(lo, hi]`` as tuples, one per executor read, whose positions
  are named by ``fields``;
- ``read_partition(split)``: the unguarded executor-side read of one
  split, returning an iterator of rows or Arrow record batches.

Offsets are ``{key: value}``. The driver plans splits and executors
read them, so no batch row transits the driver; ``read()`` enforces
that with a ``TaskContext`` guard. Replaying a committed range replays
the same plan, which is the recovery contract Structured Streaming
requires of a source, as long as ``plan`` is a pure function of an
immutable log.

This module lives outside ``operators`` on purpose: the reader and its
splits are pickled by reference to this module, so a Python worker that
unpickles them imports only this module's package chain, not the
operator registry.
"""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition


class Split(InputPartition):
    """One executor read unit; its attributes are the plan tuple's fields."""

    def __init__(self, **fields) -> None:
        self.__dict__.update(fields)


class TailReader(DataSourceStreamReader):
    def __init__(
        self, name, path, key, initial, latest, plan, fields, read_partition
    ) -> None:
        self._name, self._path, self._key = name, path, key
        self._initial, self._latest, self._plan = initial, latest, plan
        self._fields, self._read_partition = fields, read_partition
        self._seen = initial

    def initialOffset(self):
        return {self._key: self._initial}

    def latestOffset(self):
        return {self._key: self._latest(self._path, self._seen)}

    def partitions(self, start, end):
        lo, hi = start[self._key], end[self._key]
        self._seen = max(self._seen, lo, hi)
        if hi <= lo:
            return []
        return [
            Split(**dict(zip(self._fields, t)))
            for t in self._plan(self._path, lo, hi)
        ]

    def commit(self, end):
        self._seen = max(self._seen, end[self._key])

    def read(self, partition):
        if TaskContext.get() is None:
            raise RuntimeError(
                f"{self._name} read() must run on an executor — "
                "batch rows must not transit the driver"
            )
        return self._read_partition(partition)


def tail_source(
    name: str,
    schema: str,
    *,
    key: str,
    initial,
    latest,
    plan,
    fields: tuple[str, ...],
    read_partition,
) -> type[DataSource]:
    """A registrable ``DataSource`` class named ``name`` whose stream
    reader tails the table at the ``path`` option (see the module
    docstring for the format hooks)."""
    source_name, ddl = name, schema  # the methods below reuse both names

    class TailSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return source_name

        def schema(self) -> str:
            return ddl

        def streamReader(self, schema):
            return TailReader(
                source_name,
                self.options.get("path"),
                key,
                initial,
                latest,
                plan,
                fields,
                read_partition,
            )

    return TailSource
