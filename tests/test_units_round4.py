"""Round-4 batch units: materialized JSON shredding, multi-probe ANN,
SemDeDup, variable-width span dedup, two-star connected components."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import sap_cta_data_pipeline_spark.operators  # noqa: F401
from sap_cta_data_pipeline_spark.operators.matching import (
    connected_components_twostar,
)
from sap_cta_data_pipeline_spark.registry import QUERIES


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    return lambda key: QUERIES[key](spark, sf_dir)


def test_json_shred_materialized_equals_parse_lane(q):
    """The materialized-shred lane must answer EXACTLY what the
    parse-every-time lane answers — it is a physical optimization, not a
    semantic change."""
    a = {r.k_bucket: r for r in q("json_extract_typed").collect()}
    b = {r.k_bucket: r for r in q("json_shred_materialized").collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k].n == b[k].n
        assert a[k].n_users == b[k].n_users
        assert a[k].avg_value == pytest.approx(b[k].avg_value, abs=1e-9)


def test_json_shred_materialization_is_idempotent(q):
    """Second run reuses the _SUCCESS-marked shred (steady-state read)."""
    r1 = {r.k_bucket: r.n for r in q("json_shred_materialized").collect()}
    r2 = {r.k_bucket: r.n for r in q("json_shred_materialized").collect()}
    assert r1 == r2


def test_multiprobe_recall_dominates_single_probe(q):
    """Multi-probe candidates are a superset of the single bucket's, and a
    true-top-5 member can never be displaced from an ANN top-5 by
    candidates outside the true top-5 — so per-probe hits must dominate."""
    rows = q("sim_recall_eval").collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_hits_multiprobe >= r.n_hits
        assert r.recall_at_5_multiprobe == pytest.approx(
            r.n_hits_multiprobe / 5.0, abs=1e-6
        )
    # the knob must actually buy recall somewhere on the fixture corpus
    assert sum(r.n_hits_multiprobe for r in rows) > sum(r.n_hits for r in rows)


def test_dedup_semantic_invariants(q):
    rows = q("dedup_semantic").collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, members in by_cell.items():
        assert all(m.n_cell == len(members) for m in members)
        # the smallest id of a cell has no smaller-id partner → never dup
        min_id = min(m.vec_id for m in members)
        for m in members:
            if m.vec_id == min_id:
                assert not m.is_duplicate
            if m.is_duplicate:
                assert m.max_cos_in_cell >= 0.35 - 1e-9


def test_dedup_semantic_recall_eval_bounds(q):
    row = q("dedup_semantic_recall_eval").collect()[0]
    # cells can only LOSE pairs vs the exact ground truth → precision 1.0
    assert row.precision == pytest.approx(1.0, abs=1e-6)
    assert 0.0 <= row.recall <= 1.0
    assert row.n_hits == row.n_sem_dups  # same statement as precision=1
    assert row.n_sem_dups <= row.n_exact_dups


def test_span_dedup_multi_width8_matches_fixed_lane(q):
    fixed = {r.doc_id: r.n_dup_spans for r in q("text_span_dedup").collect()}
    multi = {r.doc_id: r for r in q("text_span_dedup_multi").collect()}
    assert set(fixed) == set(multi)
    for d, r in multi.items():
        assert r.n_dup_spans_8 == fixed[d]
        assert r.max_dup_width in (0, 8, 16, 32)
        if r.max_dup_width == 0:
            assert r.n_dup_spans_8 == r.n_dup_spans_16 == r.n_dup_spans_32 == 0
        else:
            assert getattr(r, f"n_dup_spans_{r.max_dup_width}") > 0
        # a duplicated wide window forces duplicated narrower windows
        if r.n_dup_spans_32 > 0:
            assert r.n_dup_spans_16 > 0 and r.n_dup_spans_8 > 0
        if r.n_dup_spans_16 > 0:
            assert r.n_dup_spans_8 > 0


def test_twostar_matches_propagation_lane(q):
    a = {r.comp_id: (r.n_reps, r.n_docs, r.rep_ids_csv) for r in q("dedup_cluster_cc").collect()}
    b = {r.comp_id: (r.n_reps, r.n_docs, r.rep_ids_csv) for r in q("dedup_cluster_cc_twostar").collect()}
    assert a == b


def test_twostar_planted_chain_log_rounds(spark):
    """64-node chain (diameter 63): naive per-round min-label propagation
    needs 63 rounds; two-star must land the whole chain on component 0 in
    O(log n) rounds."""
    n = 64
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in chain] + [(v, u) for u, v in chain],
        schema="src bigint, dst bigint",
    )
    nodes = spark.range(n).select(F.col("id").alias("node"))
    labels, rounds = connected_components_twostar(nodes, edges)
    got = {r.node: r.comp for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 7, f"two-star took {rounds} rounds on a 64-chain"


def test_cc_loops_restore_session_shuffle_partitions(spark):
    """Round-13: both CC loops derive their per-round shuffle width from
    the measured edge count (matching._cc_loop_dop) by mutating
    spark.sql.shuffle.partitions for the loop's plans — the session value
    must be restored on every exit path, including the
    non-convergence raise."""
    from sap_cta_data_pipeline_spark.operators.matching import (
        connected_components,
        connected_components_twostar,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], schema="src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], schema="node bigint")

    labels, _ = connected_components_twostar(nodes, edges)
    labels.collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    connected_components(nodes, edges).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # raise path: max_rounds=0 exhausts without converging
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_twostar(nodes, edges, max_rounds=0)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _union_find(edges, nodes=()):
    """Reference components: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for x in nodes:
        find(x)
    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _forest_labels(edges):
    """_star_forest's rows as node -> comp over every node it saw."""
    from sap_cta_data_pipeline_spark.operators.matching import _star_forest

    hi = np.array([u for u, _ in edges], dtype=np.int64)
    lo = np.array([v for _, v in edges], dtype=np.int64)
    node, comp = _star_forest(hi, lo)
    assert len(set(node.tolist())) == len(node), "one row per node at most"
    assert (comp < node).all()
    got = {x: x for x in np.concatenate([hi, lo]).tolist()}
    got.update(zip(node.tolist(), comp.tolist()))
    return got


@pytest.mark.parametrize("seed", range(12))
def test_star_forest_matches_union_find_on_random_graphs(seed):
    rng = np.random.default_rng(seed)
    n_nodes = int(rng.integers(2, 400))
    n_edges = int(rng.integers(0, 2 * n_nodes))
    ids = rng.choice(10**12, size=n_nodes, replace=False)
    edges = [
        (int(ids[a]), int(ids[b]))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
    ]
    # duplicates, reversed duplicates and self-loops must not matter
    edges += edges[: n_edges // 3] + [(v, u) for u, v in edges[: n_edges // 4]]
    edges += [(int(ids[0]), int(ids[0]))]
    assert _forest_labels(edges) == _union_find(edges)


def test_star_forest_planted_chain_and_empty():
    chain = [(i, i + 1) for i in range(63)]
    rng = np.random.default_rng(0)
    shuffled = [chain[i] for i in rng.permutation(len(chain))]
    assert _forest_labels(shuffled) == {i: 0 for i in range(64)}
    assert _forest_labels([]) == {}


def test_contract_partition_handles_an_empty_partition():
    from sap_cta_data_pipeline_spark.operators.matching import _contract_partition

    (batch,) = _contract_partition(iter([]))
    assert batch.num_rows == 0 and batch.schema.names == ["hi", "lo"]


def test_twostar_contracts_inputs_with_empty_partitions_and_duplicates(spark):
    """Duplicated edges spread over more partitions than edges (so some
    partitions are empty) give the union-find components."""
    pairs = [(1, 2), (2, 3), (3, 1), (7, 8), (8, 7), (2, 1), (1, 2)]
    edges = spark.createDataFrame(pairs, schema="src bigint, dst bigint").repartition(16)
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 99)], schema="node bigint")
    labels, _ = connected_components_twostar(nodes, edges)
    assert {r.node: r.comp for r in labels.collect()} == _union_find(pairs, [99])


def test_twostar_isolated_and_pair(spark):
    edges = spark.createDataFrame(
        [(10, 11), (11, 10)], schema="src bigint, dst bigint"
    )
    nodes = spark.createDataFrame(
        [(10,), (11,), (99,)], schema="node bigint"
    )
    labels, _ = connected_components_twostar(nodes, edges)
    got = {r.node: r.comp for r in labels.collect()}
    assert got == {10: 10, 11: 10, 99: 99}


def test_bpe_learn_rounds_monotone(q):
    rows = sorted(q("text_bpe_learn").collect(), key=lambda r: r.round)
    assert [r.round for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.merged == r.left + r.right
        assert r.n_pairs > 0
    # each merge adds exactly one (new) symbol to a growing vocabulary
    for a, b in zip(rows, rows[1:]):
        assert b.vocab_size_after >= a.vocab_size_after
