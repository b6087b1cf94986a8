"""Batch GT pins — streaming Delta MERGE sink exactly-once
(SetTransaction guard against a NON-idempotent update replay) + the
Iceberg→Delta replication loop (netting rules, restart drains only the
post-stop windows)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators.delta_reader import delta_snapshot
from sap_cta_data_pipeline_spark.operators.surface26 import (
    delta_last_txn_version,
)
from sap_cta_data_pipeline_spark.operators.surface70 import (
    delta_merge_batch_once,
    replicate_changelog_batch,
    stream_replicate_iceberg_to_delta,
)

SF = "/root/testdata/sf0.001"


def _nation(spark, pred):
    return (
        load_table(spark, SF, "nation")
        .where(pred)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


def _versions(base):
    log = os.path.join(base, "_delta_log")
    return sorted(
        f for f in os.listdir(log) if f.endswith(".json") and f[0].isdigit()
    )


def test_merge_sink_nonidempotent_replay_skipped(spark, tmp_path):
    """The reason the sink needs SetTransaction and not just effect
    idempotence: batch 2 applies value += 100 — replaying it would
    double-apply. The guard skips the replay; values carry exactly one
    +100."""
    t = str(tmp_path / "d")
    assert delta_merge_batch_once(
        spark, t, _nation(spark, "n_nationkey < 10"), 0,
        "n_nationkey", ["n_name", "n_regionkey"], "app",
    )
    assert delta_merge_batch_once(
        spark, t, _nation(spark, "n_nationkey >= 10"), 1,
        "n_nationkey", ["n_name", "n_regionkey"], "app",
    )
    upd = _nation(spark, "n_nationkey < 3").withColumn(
        "n_regionkey", F.col("n_regionkey") + F.lit(100)
    )
    assert delta_merge_batch_once(
        spark, t, upd, 2, "n_nationkey", ["n_name", "n_regionkey"], "app"
    )
    n_commits = len(_versions(t))
    # the crash-recovery replay: same batch id -> MUST be skipped
    assert (
        delta_merge_batch_once(
            spark, t, upd, 2, "n_nationkey", ["n_name", "n_regionkey"], "app"
        )
        is False
    )
    assert len(_versions(t)) == n_commits  # no extra commit
    got = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in delta_snapshot(spark, t).collect()
    }
    base = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in _nation(spark, "n_nationkey >= 0").collect()
    }
    for k, v in base.items():
        assert got[k] == v + (100 if k < 3 else 0)  # exactly ONE +100
    # a stale batch id below the high-water mark is also skipped
    assert (
        delta_merge_batch_once(
            spark, t, upd, 1, "n_nationkey", ["n_name", "n_regionkey"], "app"
        )
        is False
    )
    assert delta_last_txn_version(spark, t, "app") == 2


def test_merge_sink_txn_rides_the_merge_commit(spark, tmp_path):
    """The batch-2 merge commit carries BOTH the rewrite (remove+add)
    and the txn action — one atomic version, not a commit pair."""
    t = str(tmp_path / "d")
    delta_merge_batch_once(
        spark, t, _nation(spark, "n_nationkey < 25"), 0,
        "n_nationkey", ["n_name", "n_regionkey"], "app",
    )
    upd = _nation(spark, "n_nationkey = 7").withColumn(
        "n_regionkey", F.lit(9)
    )
    delta_merge_batch_once(
        spark, t, upd, 1, "n_nationkey", ["n_name", "n_regionkey"], "app"
    )
    last = os.path.join(t, "_delta_log", _versions(t)[-1])
    kinds = {k for line in open(last) for k in json.loads(line)}
    assert {"remove", "add", "txn"} <= kinds


def test_merge_sink_bootstrap_drops_flagged_deletes(spark, tmp_path):
    """Batch 0 against a missing table creates it from the upsert rows;
    flagged deletes at bootstrap reference keys that never existed and
    follow the SQL MERGE unmatched-delete no-op rule."""
    t = str(tmp_path / "d")
    b0 = _nation(spark, "n_nationkey < 6").withColumn(
        "__del", F.col("n_nationkey") % 2 == 0
    )
    assert delta_merge_batch_once(
        spark, t, b0, 0, "n_nationkey", ["n_name", "n_regionkey"], "app",
        delete_col="__del",
    )
    keys = {r[0] for r in delta_snapshot(spark, t).select("n_nationkey").collect()}
    assert keys == {1, 3, 5}


def test_replicate_netting_rules(spark, tmp_path):
    """Hand-built micro-batch exercising every netting rule at once:
    same-snapshot DELETE+INSERT pairs net to upserts (rewrite carried
    rows AND updated rows), a later-snapshot DELETE beats an earlier
    INSERT, and the flagged delete flows through the MERGE delete
    branch."""
    t = str(tmp_path / "d")
    delta_merge_batch_once(
        spark, t, _nation(spark, "n_nationkey < 4"), 0,
        "n_nationkey", ["n_name", "n_regionkey"], "repl",
    )
    rows = [
        # key 0: carried row of a rewrite — DELETE+INSERT same values @s5
        (0, "ALGERIA", 0, "DELETE", 5), (0, "ALGERIA", 0, "INSERT", 5),
        # key 1: updated @s5 — postimage outranks preimage
        (1, "ARGENTINA", 1, "DELETE", 5), (1, "ARGENTINA", 91, "INSERT", 5),
        # key 2: updated @s5 then deleted @s6 — latest snapshot wins
        (2, "BRAZIL", 92, "INSERT", 5), (2, "BRAZIL", 92, "DELETE", 6),
        # key 9: inserted @s5, never seen before
        (9, "INDONESIA", 2, "INSERT", 5),
    ]
    bdf = spark.createDataFrame(
        rows,
        "n_nationkey int, n_name string, n_regionkey int, "
        "change_type string, commit_snapshot_id bigint",
    )
    assert replicate_changelog_batch(spark, t, bdf, 1, "repl")
    got = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in delta_snapshot(spark, t).collect()
    }
    assert got[0] == 0        # carried: same-value upsert
    assert got[1] == 91       # updated: postimage won
    assert 2 not in got       # update-then-delete nets to DELETE
    assert got[9] == 2        # fresh insert
    assert got[3] == 3        # untouched key survives
    # replay of the same batch id: skipped by the txn guard
    assert replicate_changelog_batch(spark, t, bdf, 1, "repl") is False


def test_replicate_restart_drains_only_post_stop_windows(spark):
    """The key's own fixture runs the stream twice against ONE
    checkpoint with the merge+delete committed between runs: the replica
    log must hold exactly 2 commits (bootstrap insert + one MERGE) —
    the restart did not re-drain the append windows."""
    from sap_cta_data_pipeline_spark.operators.sources import _scratch

    stream_replicate_iceberg_to_delta(spark, SF)
    tgt = _scratch(SF, "delta_repl_tgt")
    assert len(_versions(tgt)) == 2
    assert delta_last_txn_version(spark, tgt, "repl-sink") == 1
    got = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in delta_snapshot(spark, tgt).collect()
    }
    assert set(got) == {k for k in range(25) if k % 3 != 0}
    for k, v in got.items():
        base = {r[0]: r[2] for r in _nation(spark, "n_nationkey >= 0").collect()}
        assert v == base[k] + (10 if k < 5 else 0)
