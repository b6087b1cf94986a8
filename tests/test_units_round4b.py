"""Round-4 batch BC units: AUC/KS evals (independent numpy recompute),
cluster-form minhash dedup, txn-log snapshot + time travel, chunk-level
dedup, composed dedup pipeline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import sap_cta_data_pipeline_spark.operators  # noqa: F401
from sap_cta_data_pipeline_spark.catalog import load_table
from sap_cta_data_pipeline_spark.operators.sources import _scratch
from sap_cta_data_pipeline_spark.operators.table_log import txnlog_snapshot
from sap_cta_data_pipeline_spark.registry import QUERIES
from tests.test_units_round4 import _union_find


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    return lambda key: QUERIES[key](spark, sf_dir)


def test_auc_matches_numpy_midrank(q, spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "events")
        .select("value", (F.col("event_type") == "purchase").alias("pos"))
        .collect()
    )
    scores = np.array([r.value for r in rows])
    labels = np.array([r.pos for r in rows], dtype=bool)
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores))
    sorted_scores = scores[order]
    # midranks with ties
    i = 0
    while i < len(sorted_scores):
        j = i
        while j + 1 < len(sorted_scores) and sorted_scores[j + 1] == sorted_scores[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    p, n = labels.sum(), (~labels).sum()
    expected = (ranks[labels].sum() - p * (p + 1) / 2.0) / (p * n)
    row = q("ml_auc_roc").collect()[0]
    assert row.n_pos == p and row.n_neg == n
    assert row.auc == pytest.approx(expected, abs=1e-6)


def test_ks_matches_numpy(q, spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("value", "event_type")
        .collect()
    )
    a = np.sort(np.array([r.value for r in rows if r.event_type == "click"]))
    b = np.sort(np.array([r.value for r in rows if r.event_type == "view"]))
    support = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, support, side="right") / len(a)
    fb = np.searchsorted(b, support, side="right") / len(b)
    diffs = np.abs(fa - fb)
    expected_d = diffs.max()
    expected_at = support[diffs.argmax()]  # argmax returns FIRST max = min value
    row = q("ml_ks_test").collect()[0]
    assert row.n_a == len(a) and row.n_b == len(b)
    assert row.ks_stat == pytest.approx(expected_d, abs=1e-6)
    assert row.ks_at_value == pytest.approx(expected_at, abs=1e-6)


def test_minhash_cluster_invariants(q):
    rows = q("dedup_minhash_cluster").collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m.rep_id for m in members)
        assert cid == ids[0], "cluster id must be the min member"
        keepers = [m for m in members if m.is_keeper]
        assert len(keepers) == 1 and keepers[0].rep_id == cid
    # every CLOSURE-grade pair (est >= 0.8 — the edge threshold the
    # cluster lane actually closes over) must land in one cluster
    cluster_of = {r.rep_id: r.cluster_id for r in rows}
    for p in q("dedup_minhash_lsh").collect():
        if p.est_jaccard >= 0.8:
            assert cluster_of[p.doc_a] == cluster_of[p.doc_b]


@pytest.mark.parametrize("block", [None, 2], ids=["default_block", "block_2"])
def test_minhash_cluster_equals_union_find_of_lsh_pairs(q, monkeypatch, block):
    """Both directions: the cluster lane's components are exactly the
    union-find components of dedup_minhash_lsh's closure-grade pairs
    (est >= 0.8) over the lane's representatives — no missed merge and
    no over-merge. Block 2 forces the hot-bucket block split on every
    bucket with more than two members."""
    from sap_cta_data_pipeline_spark.operators import text as tx

    if block is not None:
        monkeypatch.setattr(tx, "_BUCKET_BLOCK", block)
    cluster_of = {r.rep_id: r.cluster_id for r in q("dedup_minhash_cluster").collect()}
    pairs = [
        (p.doc_a, p.doc_b) for p in q("dedup_minhash_lsh").collect() if p.est_jaccard >= 0.8
    ]
    assert cluster_of == _union_find(pairs, cluster_of)
    assert len(set(cluster_of.values())) < len(cluster_of)  # some merges happened


def test_txnlog_time_travel(q, spark, sf_dir):
    latest = {r.n_nationkey: r.n_name for r in q("scan_txnlog_snapshot").collect()}
    nation = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    assert latest == nation  # v1 overwrite supersedes the '-old' file
    assert not any(v == "GARBAGE" for v in latest.values())  # orphan invisible
    base = _scratch(sf_dir, "txnlog_table")
    v0 = {r.n_nationkey: r.n_name for r in txnlog_snapshot(spark, base, 0).collect()}
    assert set(v0) == set(nation)
    for k, name in v0.items():
        if k < 12:
            assert name == nation[k] + "-old"
        else:
            assert name == nation[k]


def test_chunk_dedup_blocks_shape(q):
    rows = q("text_chunk_dedup_blocks").collect()
    assert 0 < len(rows) <= 20
    prev = None
    for r in rows:
        assert len(r.chunk.split(" ")) == 16
        assert r.n_occurrences > 1
        assert 1 <= r.n_docs <= r.n_occurrences
        if prev is not None:
            assert r.n_occurrences <= prev[0]
            if r.n_occurrences == prev[0]:
                assert r.chunk > prev[1]
        prev = (r.n_occurrences, r.chunk)


def test_corpus_dedup_pipeline_consistency(q, spark, sf_dir):
    rows = q("corpus_dedup_pipeline").collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # doc-grain, exactly one verdict per doc
    verdicts = {r.doc_id: r for r in rows}
    # exact stage must agree with dedup_exact's groups
    exact_dropped = set()
    for g in q("dedup_exact").collect():
        ids = [int(x) for x in g.doc_ids_csv.split(",")]
        for d in ids:
            if d != g.keep_doc_id:
                exact_dropped.add(d)
                assert verdicts[d].verdict == "exact_dup"
                assert verdicts[d].exact_keeper == g.keep_doc_id
    for d, r in verdicts.items():
        if r.verdict == "exact_dup":
            assert d in exact_dropped
        else:
            assert r.exact_keeper is None
    kept = sum(1 for r in rows if r.verdict == "keep")
    assert 0 < kept < n_docs


def test_psi_matches_numpy(q, spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("value", "event_type")
        .collect()
    )
    a = np.array([min(int(r.value // 50), 9) for r in rows if r.event_type == "click"])
    b = np.array([min(int(r.value // 50), 9) for r in rows if r.event_type == "view"])
    na = np.bincount(a, minlength=10)
    nb = np.bincount(b, minlength=10)
    pa = (na + 0.5) / (na.sum() + 5.0)
    pb = (nb + 0.5) / (nb.sum() + 5.0)
    expected = (pb - pa) * np.log(pb / pa)
    got = {r.bin: r for r in q("ml_psi_drift").collect()}
    assert set(got) == set(range(10))
    for i in range(10):
        assert got[i].n_a == na[i] and got[i].n_b == nb[i]
        assert got[i].psi_term == pytest.approx(expected[i], abs=1e-6)
        assert got[i].psi_term >= 0  # each PSI term is non-negative


def test_stream_datasource_drains_all_batches(q):
    rows = sorted(q("source_python_stream_datasource").collect(), key=lambda r: r.reading_id)
    assert [r.reading_id for r in rows] == list(range(30))
    assert all(r.reading_sq == r.reading_id**2 for r in rows)


def test_lift_gains_invariants(q, spark, sf_dir):
    rows = sorted(q("ml_lift_gains_table").collect(), key=lambda r: r.decile)
    n_events = load_table(spark, sf_dir, "events").count()
    assert [r.decile for r in rows] == list(range(10))
    assert sum(r.n for r in rows) == n_events
    # gains are a cumulative fraction: nondecreasing, ending at 1.0
    gains = [r.gain for r in rows]
    assert all(b >= a for a, b in zip(gains, gains[1:]))
    assert gains[-1] == pytest.approx(1.0, abs=1e-6)
    # decile sizes are balanced within 1 row (integer division)
    sizes = {r.n for r in rows}
    assert max(sizes) - min(sizes) <= 1


def test_txnlog_compaction_preserves_history(q, spark, sf_dir):
    latest = {r.n_nationkey: r.n_name for r in q("txnlog_compact_optimize").collect()}
    nation = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    assert latest == nation
    base = _scratch(sf_dir, "txnlog_table_compact")
    # post-compaction: exactly ONE live file
    import json as _json
    import os as _os

    with open(_os.path.join(base, "_log", "00000002.json")) as fh:
        actions = [_json.loads(line) for line in fh]
    assert sum("add" in a for a in actions) == 1
    # pre-compaction versions still replay
    v0 = {r.n_nationkey: r.n_name for r in txnlog_snapshot(spark, base, 0).collect()}
    assert all(v0[k].endswith("-old") for k in v0 if k < 12)
    v1 = {r.n_nationkey: r.n_name for r in txnlog_snapshot(spark, base, 1).collect()}
    assert v1 == nation


def test_foreachbatch_sink_commits_per_epoch(q, spark, sf_dir):
    rows = sorted(q("stream_foreachbatch_sink").collect(), key=lambda r: r.reading_id)
    assert [r.reading_id for r in rows] == list(range(30))
    assert all(r.reading_sq == r.reading_id**2 for r in rows)


def test_hll_intersection_eval_bounds(q):
    row = q("agg_hll_intersection_eval").collect()[0]
    assert row.exact_inter <= min(row.exact_a, row.exact_b)
    assert row.exact_inter > 0
    # HLL estimates land within a loose sanity band of exact counts
    assert row.est_a == pytest.approx(row.exact_a, rel=0.1)
    assert row.est_b == pytest.approx(row.exact_b, rel=0.1)
    assert row.rel_err == pytest.approx(
        abs(row.est_inter - row.exact_inter) / row.exact_inter, abs=1e-6
    )


def test_stream_static_enrich_values(q):
    rows = sorted(q("stream_static_enrich").collect(), key=lambda r: r.reading_id)
    assert [r.reading_id for r in rows] == list(range(30))
    assert all(r.reading_sq == r.reading_id**2 for r in rows)


def test_txnlog_optimistic_concurrency(spark, sf_dir, tmp_path):
    """Two writers race for version N: os.rename of a committed log file
    is the atomic claim — the loser must detect the existing version and
    retry as N+1 (the optimistic-concurrency loop every log-structured
    table runs). Simulated sequentially; the invariant is that a blind
    second commit to the SAME version must fail rather than clobber."""
    import json
    import os

    log_dir = tmp_path / "_log"
    log_dir.mkdir()

    def commit(version: int, actions) -> bool:
        final = log_dir / f"{version:08d}.json"
        if final.exists():
            return False  # conflict: someone else claimed this version
        tmp = log_dir / f".tmp-w-{version:08d}.json"
        tmp.write_text("\n".join(json.dumps(a) for a in actions))
        try:
            os.rename(tmp, final)  # atomic on POSIX; fails on Windows if exists
        except OSError:
            return False
        return True

    assert commit(0, [{"add": "p0"}])
    # writer A and writer B both try v1; A lands first
    assert commit(1, [{"add": "pA"}])
    assert not commit(1, [{"add": "pB"}])  # B conflicts...
    assert commit(2, [{"add": "pB"}])  # ...and retries at v2
    names = sorted(p.name for p in log_dir.iterdir())
    assert names == ["00000000.json", "00000001.json", "00000002.json"]


def test_abc_xyz_matrix_partition_of_parts(q, spark, sf_dir):
    rows = q("part_abc_xyz_matrix").collect()
    n_parts_total = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r.n_parts for r in rows) == n_parts_total
    for r in rows:
        assert r.abc_class in ("A", "B", "C")
        assert r.xyz_class in ("X", "Y", "Z")
        assert r.n_parts > 0 and r.revenue > 0


def test_merge_txnlog_preserves_history(q, spark, sf_dir):
    latest = {r.n_nationkey: r.n_name for r in q("merge_into_txnlog").collect()}
    nation = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    assert latest[3] == "updated-3" and latest[7] == "updated-7"
    assert 11 not in latest
    assert latest[990] == "newland"
    untouched = {k: v for k, v in latest.items() if k not in (3, 7, 990)}
    assert all(nation[k] == v for k, v in untouched.items())
    # pre-merge snapshot unchanged
    base = _scratch(sf_dir, "txnlog_table_merge")
    v1 = {r.n_nationkey: r.n_name for r in txnlog_snapshot(spark, base, 1).collect()}
    assert v1 == nation


def test_catalog_partition_overwrite_keeps_other_partitions(q, spark):
    import os as _os

    q("catalog_insert_overwrite_partition")
    name = f"sap_cta_events_part_{_os.getpid()}"
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {name}").collect()}
    # dynamic overwrite restated ONE partition; the other four survive
    assert parts == {
        f"event_type={t}" for t in ("click", "view", "purchase", "signup", "error")
    }


def test_cluster_recall_eval_bounds(q):
    row = q("dedup_cluster_recall_eval").collect()[0]
    assert row.n_common <= min(row.n_pairs_exact, row.n_pairs_minhash)
    assert 0.0 <= row.pair_recall <= 1.0 and 0.0 <= row.pair_precision <= 1.0
    assert row.pair_recall == pytest.approx(row.n_common / row.n_pairs_exact, abs=1e-6)
    assert row.pair_precision == pytest.approx(
        row.n_common / row.n_pairs_minhash, abs=1e-6
    )
    # the 0.8-closure clustering must be materially better than random:
    # most exact duplicate pairs recovered
    assert row.pair_recall > 0.9
