"""Contract pins shared by every Python streaming tail (streaming/tail.py):
read() refuses to run outside an executor task, composed offset ranges
replay exactly, and a Python worker that unpickles the telemetry reader
does not import the operator registry."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark import cloudpickle

from sap_cta_data_pipeline_spark.operators.delta_reader import (
    _build_cdf_fixture,
    _make_cdf_stream_datasource,
)
from sap_cta_data_pipeline_spark.operators.iceberg_reader import (
    _make_iceberg_stream_datasource,
)
from sap_cta_data_pipeline_spark.operators.sources_python import (
    _make_stream_datasource,
)
from sap_cta_data_pipeline_spark.operators.surface65 import (
    _make_changelog_tail_datasource,
)
from sap_cta_data_pipeline_spark.operators.surface66 import (
    _make_hudi_tail_datasource,
)
from tests.test_surface65 import SF, _build
from tests.test_surface66 import _hudi_three_commits, _ice_two_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: format -> (source factory, fixture builder, offsets a < b < c)
FORMATS = {
    "telemetry": (
        _make_stream_datasource,
        None,
        ({"i": 0}, {"i": 10}, {"i": 30}),
    ),
    "delta_cdf": (
        _make_cdf_stream_datasource,
        lambda spark, base: _build_cdf_fixture(spark, SF, base),
        ({"version": 0}, {"version": 1}, {"version": 3}),
    ),
    "iceberg_snapshot": (
        _make_iceberg_stream_datasource,
        _ice_two_files,
        ({"seq": 0}, {"seq": 1}, {"seq": 2}),
    ),
    "iceberg_changelog": (
        _make_changelog_tail_datasource,
        lambda spark, base: _build(spark, base, with_delete=True),
        ({"seq": 0}, {"seq": 2}, {"seq": 3}),
    ),
    "hudi_incremental": (
        _make_hudi_tail_datasource,
        _hudi_three_commits,
        (
            {"instant": ""},
            {"instant": "00000000000002"},
            {"instant": "00000000000003"},
        ),
    ),
}


@pytest.fixture(params=sorted(FORMATS))
def tail(request, spark, tmp_path):
    factory, build, offsets = FORMATS[request.param]
    options = {}
    if build is not None:
        options["path"] = str(tmp_path / request.param)
        build(spark, options["path"])
    return factory()(options).streamReader(None), offsets


def _rows(reader, start, end) -> list[tuple]:
    """A window's rows, read the way an executor reads them (the
    unguarded body behind read())."""
    rows: list[tuple] = []
    for split in reader.partitions(start, end):
        for item in reader._read_partition(split):
            if hasattr(item, "to_pylist"):  # an Arrow record batch
                rows.extend(tuple(r.values()) for r in item.to_pylist())
            else:
                rows.append(tuple(item))
    return rows


def test_read_refuses_to_run_on_the_driver(tail):
    reader, (a, _b, c) = tail
    splits = reader.partitions(a, c)
    assert splits
    with pytest.raises(RuntimeError, match="must run on an executor"):
        reader.read(splits[0])


def test_composed_ranges_replay_exactly(tail):
    reader, (a, b, c) = tail
    first, second = _rows(reader, a, b), _rows(reader, b, c)
    assert first and second
    assert sorted(_rows(reader, a, c)) == sorted(first + second)


_CHILD = """
import pickle, sys
reader, split = pickle.loads(sys.stdin.buffer.read())
rows = list(reader._read_partition(split))
loaded = sorted(m for m in sys.modules if m.startswith("sap_cta_data_pipeline_spark."))
print(len(rows), loaded)
"""


def test_telemetry_reader_unpickles_without_the_operator_registry():
    """A Python worker unpickles the reader for every read; pulling in
    the operators package there costs about a second per worker."""
    reader = _make_stream_datasource()({}).streamReader(None)
    (split,) = reader.partitions({"i": 0}, {"i": 10})
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        input=cloudpickle.dumps((reader, split)),
        capture_output=True,
        env=env,
        cwd="/",
        timeout=120,
        check=True,
    ).stdout.decode()
    n_rows, loaded = out.strip().split(" ", 1)
    assert n_rows == "10"
    assert "operators" not in loaded, loaded
