"""Pin tests for the rows-only dedup lanes (VERDICT r1 task 1/7).

The minhash/simhash operators have no DuckDB oracle (signatures derive
from engine hashes), so these tests pin their sf0.001 output exactly —
row count + content hash over the fully sorted frame — to catch any
semantic drift when the plans are restructured for performance.
"""

from __future__ import annotations

import hashlib
import os

import pytest

import sap_cta_data_pipeline_spark.operators  # noqa: F401  (registry population)
from sap_cta_data_pipeline_spark.registry import QUERIES

SF0001 = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF0001), reason="sf0.001 fixture not present"
)


def _frame(spark, key):
    pdf = QUERIES[key](spark, SF0001).toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _digest(pdf) -> str:
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()[:16]


@pytest.fixture(params=[None, 2], ids=["default_block", "block_2"])
def bucket_block(request, monkeypatch):
    """Runs a MinHash pin at the default _BUCKET_BLOCK and at 2, which
    cuts every bucket with more than two members into blocks."""
    from sap_cta_data_pipeline_spark.operators import text as tx

    if request.param is not None:
        monkeypatch.setattr(tx, "_BUCKET_BLOCK", request.param)


def test_minhash_lsh_pinned(spark, bucket_block):
    pdf = _frame(spark, "dedup_minhash_lsh")
    assert list(pdf.columns) == [
        "doc_a", "doc_b", "est_jaccard", "n_members_a", "n_members_b",
    ]
    assert (pdf["doc_a"] < pdf["doc_b"]).all()
    assert (pdf["est_jaccard"] >= 0.75).all()
    assert not pdf.duplicated(["doc_a", "doc_b"]).any()
    assert len(pdf) == 21563
    assert _digest(pdf) == "72ec533a9608ec06"


def test_minhash_incremental_pinned(spark, bucket_block):
    pdf = _frame(spark, "dedup_minhash_incremental")
    assert list(pdf.columns) == [
        "batch_id", "n_members", "best_match", "est_jaccard", "is_near_dup",
    ]
    assert not pdf.duplicated(["batch_id"]).any()
    assert len(pdf) == 228
    assert _digest(pdf) == "6ba1982b5b948140"


def test_simhash_pinned(spark):
    pdf = _frame(spark, "dedup_simhash")
    assert list(pdf.columns) == ["doc_a", "doc_b", "hamming"]
    assert (pdf["doc_a"] < pdf["doc_b"]).all()
    assert (pdf["hamming"] <= 3).all()
    assert not pdf.duplicated(["doc_a", "doc_b"]).any()
    assert len(pdf) == 7166
    assert _digest(pdf) == "e60c290d0411410b"


def _footprint(spark):
    """(broadcast ids held by the block managers, persisted RDDs) once
    the garbage the caller dropped has been collected — broadcasts are
    counted by their ``broadcast_N`` block ids, as perfbench does."""
    import gc
    import re
    import time

    jvm = spark.sparkContext._jvm
    ssc = spark.sparkContext._jsc.sc()
    seen = None
    for _ in range(20):
        gc.collect()  # drops the py4j handles of the frames
        jvm.java.lang.System.gc()  # lets the ContextCleaner see them
        time.sleep(0.5)
        statuses = ssc.env().blockManager().master().getStorageStatus()
        ids = set()
        for i in range(len(statuses)):
            keys = jvm.scala.collection.JavaConverters.mapAsJavaMap(
                statuses[i].blocks()
            ).keySet().toString()
            ids.update(re.findall(r"broadcast_(\d+)", keys))
        now = (len(ids), int(spark.sparkContext._jsc.getPersistentRDDs().size()))
        if now == seen:
            return now
        seen = now
    return seen


def test_minhash_lanes_leave_no_broadcast_or_cache(spark, tmp_path):
    """Run twice and materialized, the pair and incremental lanes leave
    the session's broadcast blocks and persisted RDDs as they found
    them: they score inside their tasks and cache nothing. The input is
    linked under a fresh directory, so no earlier test's plan (and
    nothing it cached) matches the lanes' plans."""
    os.symlink(
        os.path.join(SF0001, "documents.parquet"), tmp_path / "documents.parquet"
    )
    before = _footprint(spark)
    for _ in range(2):
        for key in ("dedup_minhash_lsh", "dedup_minhash_incremental"):
            QUERIES[key](spark, str(tmp_path)).write.format("noop").mode(
                "overwrite"
            ).save()
    after = _footprint(spark)
    assert after[0] <= before[0], f"broadcast blocks {before[0]} -> {after[0]}"
    assert after[1] <= before[1], f"persisted RDDs {before[1]} -> {after[1]}"
