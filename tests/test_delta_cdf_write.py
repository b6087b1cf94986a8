"""Batch ED pins — CDF writer emits recorded (not derived) changes;
replication equals the live snapshot; delete feed shape."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.operators.delta_cdf_write import (
    _cdf_table,
    _create_cdf_table,
    delta_cdf_replicate,
    delta_delete_where_cdf,
    delta_update_where_cdf,
)
from sap_cta_data_pipeline_spark.operators.delta_reader import (
    delta_snapshot,
    delta_table_changes,
)


def test_v1_feed_is_recorded_not_derived(spark, sf_dir):
    base = _cdf_table(spark, sf_dir)
    v1 = delta_table_changes(spark, base, 1, 1)
    types = {r._change_type for r in v1.select("_change_type").distinct().collect()}
    assert types == {"update_preimage", "update_postimage"}, (
        "a derived feed would show insert+delete rewrite noise"
    )
    n_pre = v1.filter("_change_type = 'update_preimage'").count()
    n_post = v1.filter("_change_type = 'update_postimage'").count()
    assert n_pre == n_post > 0
    # the physical change file exists under _change_data/
    assert any(
        f.startswith("cdc-") for f in os.listdir(os.path.join(base, "_change_data"))
    )
    # postimages carry the SET applied
    joined = (
        v1.filter("_change_type = 'update_preimage'")
        .select("o_orderkey", F.col("o_totalprice").alias("pre"))
        .join(
            v1.filter("_change_type = 'update_postimage'").select(
                "o_orderkey", F.col("o_totalprice").alias("post")
            ),
            "o_orderkey",
        )
    )
    assert joined.filter(F.col("post") != F.col("pre") + 10).count() == 0


def test_v2_delete_feed(spark, sf_dir):
    base = _cdf_table(spark, sf_dir)
    v2 = delta_table_changes(spark, base, 2, 2)
    assert {r._change_type for r in v2.collect()} == {"delete"}
    assert v2.filter("o_orderkey % 3 <> 0").count() == 0


def test_replica_equals_snapshot(spark, sf_dir):
    base = _cdf_table(spark, sf_dir)
    replica = sorted(
        map(tuple, delta_cdf_replicate.__wrapped__(spark, sf_dir).collect())
    )
    snap = sorted(
        map(
            tuple,
            delta_snapshot(spark, base)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .collect(),
        )
    )
    assert replica == snap


def test_writers_on_fresh_table(spark, tmp_path, sf_dir):
    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    _create_cdf_table(base, df)
    v = delta_update_where_cdf(spark, base, "k = 2", {"v": "v * 2"})
    assert v == 1
    v = delta_delete_where_cdf(spark, base, "k = 1")
    assert v == 2
    snap = {r.k: r.v for r in delta_snapshot(spark, base).collect()}
    assert snap == {2: 40.0, 3: 30.0}
    feed = delta_table_changes(spark, base, 0, None)
    assert feed.filter("_change_type = 'insert'").count() == 3
    assert feed.filter("_change_type = 'delete'").count() == 1


def _fresh_cdf(spark, base, df):
    _create_cdf_table(base, df)


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE keeps rows whose condition is not TRUE: a row where the
    predicate evaluates to NULL must survive the CoW rewrite (NOT(pred)
    alone would drop it from the rewritten file — data loss)."""
    base = str(tmp_path / "nulls")
    _fresh_cdf(
        spark,
        base,
        spark.createDataFrame([(1, 10.0), (2, None), (3, 30.0)], "k long, v double"),
    )
    delta_delete_where_cdf(spark, base, "v > 15")
    snap = {r.k: r.v for r in delta_snapshot(spark, base).collect()}
    assert snap == {1: 10.0, 2: None}, "NULL-predicate row must survive"


def test_update_set_is_simultaneous(spark, tmp_path):
    """All SET expressions evaluate against PRE-update values: SET a=b,
    b=a swaps (chained withColumn would copy b into both)."""
    base = str(tmp_path / "swap")
    _fresh_cdf(
        spark,
        base,
        spark.createDataFrame([(1, 1, 2), (9, 7, 8)], "k long, a long, b long"),
    )
    delta_update_where_cdf(spark, base, "k = 1", {"a": "b", "b": "a"})
    snap = {r.k: (r.a, r.b) for r in delta_snapshot(spark, base).collect()}
    assert snap == {1: (2, 1), 9: (7, 8)}
