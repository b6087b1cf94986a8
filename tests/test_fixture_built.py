"""Pins for ``sources.built``, the one build-once rule behind every scratch
table fixture: a ready fixture is served without a rebuild, a build that
raised part-way leaves nothing that is later served as ready, and a
``copy_of`` clone does not inherit its source's readiness marker."""

from __future__ import annotations

import os

import pytest

from sap_cta_data_pipeline_spark.operators import lakehouse_interop, sources
from sap_cta_data_pipeline_spark.operators import iceberg_reader
from sap_cta_data_pipeline_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _alias(tmp_path) -> str:
    """A fresh input alias of sf0.001: its basename is new to this
    process, so every fixture keyed on it starts from nothing."""
    d = tmp_path / f"sf_{tmp_path.name}"
    d.mkdir()
    for f in os.listdir(SF):
        os.symlink(os.path.join(SF, f), d / f)
    return str(d)


class _Boom(RuntimeError):
    pass


def _tree(path: str) -> dict[str, float]:
    return {
        os.path.relpath(os.path.join(root, f), path): os.path.getmtime(
            os.path.join(root, f)
        )
        for root, _dirs, files in os.walk(path)
        for f in files
    }


# ------------------------------------------------------------ the helper


def test_built_runs_build_once(tmp_path):
    sf = str(tmp_path / "in_once")
    calls = []

    def build(p):
        calls.append(p)
        os.makedirs(p)

    first = sources.built(sf, "t", build)
    again = sources.built(sf, "t", build)
    assert first == again == sources._scratch(sf, "t")
    assert calls == [first]
    assert os.path.exists(os.path.join(first, sources.READY))


def test_built_clears_a_failed_build(tmp_path):
    sf = str(tmp_path / "in_fail")

    def half(p):
        os.makedirs(p)
        open(os.path.join(p, "debris"), "w").close()
        raise _Boom

    with pytest.raises(_Boom):
        sources.built(sf, "t", half)
    path = sources._scratch(sf, "t")
    assert not os.path.exists(os.path.join(path, sources.READY))
    seen = []
    sources.built(sf, "t", lambda p: seen.append(os.path.exists(p)))
    assert seen == [False]  # the debris was removed before the rebuild
    assert sorted(os.listdir(path)) == [sources.READY]


def test_built_copy_of_strips_the_marker(tmp_path):
    sf = str(tmp_path / "in_copy")
    src = sources.built(sf, "src", lambda p: os.makedirs(os.path.join(p, "d")))
    seen = []
    dst = sources.built(
        sf, "dst", lambda p: seen.append(sorted(os.listdir(p))), copy_of=src
    )
    assert seen == [["d"]]
    assert sorted(os.listdir(dst)) == [sources.READY, "d"]


# ------------------------------------------------- interrupted key builds


def test_sink_iceberg_append_retry_after_interrupted_build(
    spark, tmp_path, monkeypatch
):
    """The second append raises once; the retry must rebuild the table
    from nothing (25 rows), not append ``a0.parquet`` again to the half
    build (37 rows)."""
    sf = _alias(tmp_path)
    real = iceberg_reader.iceberg_append
    calls = []

    def flaky(spark_, base, df, rel, *a, **kw):
        calls.append(rel)
        if len(calls) == 2:
            raise _Boom
        return real(spark_, base, df, rel, *a, **kw)

    monkeypatch.setattr(iceberg_reader, "iceberg_append", flaky)
    with pytest.raises(_Boom):
        QUERIES["sink_iceberg_append"](spark, sf)
    assert QUERIES["sink_iceberg_append"](spark, sf).count() == 25


def test_delta_restore_version_retry_after_interrupted_build(
    spark, tmp_path, monkeypatch
):
    """RESTORE raises once; the retry must restore (12 of 25 names end
    in '-old'), not serve the un-restored clone whose marker came with
    the copy."""
    sf = _alias(tmp_path)
    real = lakehouse_interop.delta_restore
    calls = []

    def flaky(*a, **kw):
        calls.append(1)
        if len(calls) == 1:
            raise _Boom
        return real(*a, **kw)

    monkeypatch.setattr(lakehouse_interop, "delta_restore", flaky)
    with pytest.raises(_Boom):
        QUERIES["delta_restore_version"](spark, sf)
    names = [r.n_name for r in QUERIES["delta_restore_version"](spark, sf).collect()]
    assert len(names) == 25
    assert sum(n.endswith("-old") for n in names) == 12


# ------------------------------------------------- minhash signature store


def test_minhash_incremental_store_is_written_once(spark, tmp_path):
    """The corpus signature store is built on the first call; a second
    call in the same process only reads it (same files, same mtimes)."""
    d = tmp_path / f"docs_{tmp_path.name}"
    d.mkdir()
    os.symlink(os.path.join(SF, "documents.parquet"), d / "documents.parquet")
    QUERIES["dedup_minhash_incremental"](spark, str(d))
    store = sources._scratch(str(d), "minhash_store")
    before = _tree(store)
    assert any(f.endswith(".parquet") for f in before)
    QUERIES["dedup_minhash_incremental"](spark, str(d))
    assert _tree(store) == before
