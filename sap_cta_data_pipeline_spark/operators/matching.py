"""§2 round-2 addendum — entity resolution: duplicate clustering and fuzzy
matching.

Pair-finding (dedup_exact / dedup_near_jaccard / dedup_minhash_lsh) emits
EDGES; a production dedup pipeline needs the transitive closure — which
documents form one duplicate CLUSTER, and which single representative
survives. That closure is a connected-components computation:

- dedup_cluster_cc — components over the near-duplicate graph via
  iterative min-label propagation. The iteration count is the graph
  diameter, not the corpus size: each round is one keyed join + one keyed
  min-aggregate over the (reps-sized) label table, all Spark-distributed;
  the only driver traffic is one convergence count per round (the same
  iterative-algorithm lane as pipe_optimize_threshold — but unlike that
  op, the fixpoint here is deterministic and SQL-expressible, so it
  carries a full recursive-CTE value oracle). For web-scale graphs with
  large diameters the drop-in replacement is the large-star/small-star
  algorithm (O(log n) rounds); min-label propagation is the readable
  exact form and converges in ≤ a handful of rounds on near-dup graphs,
  whose components are dense by construction.
- join_fuzzy_levenshtein — edit-distance fuzzy matching on a
  dictionary-sized key domain, with the dedupe-before-quadratic pattern:
  collapse the fact table to DISTINCT names first (2 000 parts → 64
  names), pair the tiny dictionary (broadcast nested-loop is correct and
  cheap at dictionary scale), prefilter by length difference BEFORE
  computing the O(len²) edit distance. At larger dictionary sizes the
  blocking becomes an equi-join key (length band × first character, or
  q-gram inverted index) — the docstring contract names the swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table as t
from ..functions.parity import bi
from ..registry import query

_JACCARD_T = 0.8
_MAX_CC_ROUNDS = 25


def _link(comp, a, b):
    """Merge the components joined by dense-id edges (a, b) into
    ``comp``, a label array that is a star forest on entry and on return
    (``comp[x]`` = the smallest dense id known connected to x). Each
    round hooks every root under the smallest root across its edges
    (hash-min on the label forest), then pointer-jumps until every tree
    is a star again; it stops when both ends of every edge carry one
    label."""
    import numpy as np

    while True:
        ca, cb = comp[a], comp[b]
        if np.array_equal(ca, cb):
            return comp
        m = np.minimum(ca, cb)
        # ca/cb are roots (comp is a star forest), and labels only
        # ever decrease, so hooking cannot form a cycle
        np.minimum.at(comp, ca, m)
        np.minimum.at(comp, cb, m)
        while True:
            jumped = comp[comp]
            if np.array_equal(jumped, comp):
                break
            comp = jumped


def _star_forest(hi, lo):
    """Connected components of one edge list, in numpy (``_link`` over
    ``np.unique``-relabelled ids). Returns ``(node, comp)`` arrays with
    one entry per distinct node seen that is not its own component
    minimum, ``comp`` being that minimum — a star forest with exactly the
    components of the input edges."""
    import numpy as np

    ids, inv = np.unique(
        np.concatenate([np.asarray(hi, np.int64), np.asarray(lo, np.int64)]),
        return_inverse=True,
    )
    comp = _link(np.arange(ids.size), inv[: len(hi)], inv[len(hi):])
    moved = comp != np.arange(ids.size)
    return ids[moved], ids[comp[moved]]


def _contract_partition(batches):
    """mapInArrow body: one partition's (hi, lo) edges → its star forest."""
    import numpy as np
    import pyarrow as pa

    hi, lo = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for batch in batches:
        hi.append(batch.column(0).to_numpy(zero_copy_only=False))
        lo.append(batch.column(1).to_numpy(zero_copy_only=False))
    node, comp = _star_forest(np.concatenate(hi), np.concatenate(lo))
    yield pa.RecordBatch.from_arrays(
        [pa.array(node, pa.int64()), pa.array(comp, pa.int64())], names=["hi", "lo"]
    )


def _contract(edges: DataFrame) -> DataFrame:
    """Partition-local contraction: every task replaces its slice of the
    ``(hi, lo)`` edges by that slice's star forest ``(node, comp-min)``.
    The union of the per-task forests has the components of the input,
    and at most partitions × nodes rows whatever the input's size or
    duplication."""
    return edges.select("hi", "lo").mapInArrow(
        _contract_partition, "hi bigint, lo bigint"
    )


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Hash-min connected components with pointer jumping: ``nodes`` has
    one ``node`` column, ``edges`` is the (src, dst) relation in either or
    both directions; returns (node, comp) with comp = min node id
    reachable. The edges are first contracted task-locally to a star
    forest (``_contract``) and made symmetric again. Each round then
    (a) takes the min label over neighbors (hash-min) and (b) shortcuts
    comp ← comp[comp] (pointer jumping), so label chains collapse
    exponentially — rounds ≈ O(log diameter), not diameter. Every step
    is a keyed join/agg over the label table, eagerly localCheckpoint-ed
    so round R's plan stays flat instead of nesting R joins deep; one
    scalar convergence count per round crosses the driver — the
    iterative-algorithm lane."""
    forest = _contract(
        edges.select(F.col("src").alias("hi"), F.col("dst").alias("lo"))
    )
    edges = (
        forest.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        .unionAll(forest.select(F.col("lo").alias("src"), F.col("hi").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("comp")).localCheckpoint(
        eager=True
    )
    for _ in range(_MAX_CC_ROUNDS):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("comp").alias("nc"))
        )
        stepped = labels.join(prop, labels.node == prop.dst, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("nc"), F.col("comp"))).alias("comp"),
        )
        # pointer jump: replace my label by my label's label (comp is
        # monotone non-increasing, so comp[comp] ≤ comp always holds)
        parent = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("jump")
        )
        new_labels = (
            stepped.join(parent, "comp", "left")
            .select("node", F.coalesce(F.col("jump"), F.col("comp")).alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


#: min-reachable-label fixpoint oracle, shared by BOTH CC lanes — the
#: algorithms differ (propagation rounds vs two-star), the answer cannot.
_CC_ORACLE = """
    WITH RECURSIVE canon AS (
      SELECT doc_id, lang,
             array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x != ''))), ' ') AS fp
      FROM documents
    ), groups AS (
      SELECT fp, min(lang) AS lang, min(doc_id) AS rep, count(*) AS n_docs
      FROM canon GROUP BY fp
    ), tok AS (
      SELECT DISTINCT rep AS doc_id, lang, unnest(string_split(fp, ' ')) AS term
      FROM groups
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      FROM tok a JOIN tok b ON a.term = b.term AND a.lang = b.lang
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges0 AS (
      SELECT da, db
      FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
    ), edges AS (
      SELECT da AS src, db AS dst FROM edges0
      UNION ALL
      SELECT db AS src, da AS dst FROM edges0
    ), cc(node, lbl) AS (
      SELECT rep, rep FROM groups
      UNION
      SELECT e.dst, cc.lbl FROM cc JOIN edges e ON e.src = cc.node
    ), comp AS (
      SELECT node, min(lbl) AS comp_id FROM cc GROUP BY node
    )
    SELECT comp.comp_id,
           count(*)                                       AS n_reps,
           CAST(sum(g.n_docs) AS BIGINT)                  AS n_docs,
           array_to_string(list_sort(list(comp.node)), ',') AS rep_ids_csv
    FROM comp JOIN groups g ON g.rep = comp.node
    GROUP BY comp.comp_id
    HAVING sum(g.n_docs) > 1
    """


@query("dedup_cluster_cc", oracle=_CC_ORACLE)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (not just pairs): exact-dup collapse →
    lang-blocked Jaccard ≥ 0.8 edges between representatives → connected
    components by min-label propagation → per-component roll-up (id = min
    doc_id, member counts incl. exact dups, sorted rep list). Components
    of size 1 with no exact dups are dropped (nothing to deduplicate).

    Distribution contract: every per-round operation is keyed on the node
    id (join + min-agg over the reps-sized label table, the contracted
    edge table checkpointed once and reused each round); one scalar
    convergence count per round crosses the driver. The oracle is
    the recursive-CTE min-reachable-label fixpoint — identical answer by
    induction on path length."""
    groups, edges = _neardup_graph(spark, sf_dir)
    labels = connected_components(
        groups.select(F.col("rep").alias("node")), edges
    )
    return _cc_rollup(labels, groups)


def _neardup_graph(spark: SparkSession, sf_dir: str):
    """Shared near-dup graph: exact-collapse groups + Jaccard ≥ 0.8
    edges (da < db) between representatives (the dedup_cluster_cc
    pipeline up to the CC step, reused by the two-star variant). One
    direction suffices: both CC loops contract their input first."""
    docs = t(spark, sf_dir, "documents")
    fp = F.concat_ws(
        " ",
        F.array_sort(F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))),
    )
    groups = (
        docs.select("doc_id", "lang", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("lang").alias("lang"),
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .cache()  # feeds tokenization, the node list, AND the final roll-up
    )
    tok = groups.select(
        F.col("rep").alias("doc_id"), "lang", F.explode(F.split("fp", " ")).alias("term")
    ).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("doc_id").alias("da"), "lang", "term")
    b = tok.select(F.col("doc_id").alias("db"), "lang", "term")
    inter = (
        a.join(b, ["lang", "term"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    edges0 = (
        inter.join(F.broadcast(sa), "da")
        .join(F.broadcast(sb), "db")
        .filter(jac >= _JACCARD_T)
        .select("da", "db")
    )
    return groups, edges0.select(F.col("da").alias("src"), F.col("db").alias("dst"))


def _cc_rollup(labels: DataFrame, groups: DataFrame) -> DataFrame:
    """Per-component roll-up shared by both CC lanes."""
    return (
        labels.join(groups.select(F.col("rep").alias("node"), "n_docs"), "node")
        .groupBy(F.col("comp").alias("comp_id"))
        .agg(
            F.count(F.lit(1)).alias("n_reps"),
            F.sum("n_docs").alias("n_docs"),
            F.concat_ws(",", F.array_sort(F.collect_list("node"))).alias("rep_ids_csv"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _checkpoint_fp(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """Eager localCheckpoint of a (hi, lo) edge state together with its
    (count, sum, bit_xor)-of-xxhash64 fingerprint, which an Observation
    collects inside the checkpoint job itself (no separate aggregate
    job). A false-equal, which would end the loop before its fixed
    point, needs a simultaneous 64-bit sum AND xor collision at equal
    counts (~2^-128); a false-unequal only costs one more round."""
    from pyspark.sql import Observation

    obs = Observation()
    edges = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("hi", "lo")).alias("s"),
        F.bit_xor(F.xxhash64("lo", "hi")).alias("x"),
    ).localCheckpoint(eager=True)
    r = obs.get
    return edges, (r["n"], r["s"], r["x"])


def connected_components_twostar(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 15
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the O(log n)-round
    alternative to min-label propagation for graphs whose component
    DIAMETER is large (web graphs, long duplicate chains): each round
    rewires edges toward local minima (large-star: every neighbor v > u
    connects to min(Γ(u) ∪ {u}); small-star: every neighbor v ≤ u
    likewise), provably preserving connectivity while at least halving
    tall structures, until the graph is a union of stars centered at the
    component minima. Every step is an edge-keyed groupBy + join (no
    label table at all — the edge list IS the state), localCheckpoint-ed
    flat. The edge state is canonical undirected (hi, lo); the directed
    views each phase needs are derived by a shuffle-free union. The input
    is first contracted task-locally to a star forest (``_contract``), so
    the rounds iterate over at most partitions × nodes edges however
    many (or however duplicated) the input edges are. The fixed-point
    test is the fingerprint ``_checkpoint_fp`` observes inside each
    round's checkpoint job. Returns (labels(node, comp), rounds_used)."""
    edges, fp = _checkpoint_fp(
        _contract(
            edges.select(
                F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
            ).where(F.col("hi") != F.col("lo"))
        )
    )
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        # large-star: for each u, m = min(Γ(u) ∪ {u}); emit (v, m) for v > u
        sym = edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst")).unionAll(
            edges.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )
        ls = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        # canonical large-star output doubles as small-star's ≤-neighbor
        # view: (hi, lo) IS the (u, v ≤ u) directed edge set. `down`
        # feeds two sub-trees (mins2 and the join), so it is checkpointed
        # rather than re-running the large-star subtree twice.
        down = ls.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        ).distinct().localCheckpoint(eager=True)
        # small-star: for each u over its ≤-neighbors, m = min; emit
        # (v, m) for every v ∈ Γ⁻(u) and (u, m)
        mins2 = down.groupBy("hi").agg(F.min("lo").alias("m"))
        ss_pairs = (
            down.join(mins2, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .unionAll(
                mins2.select(F.col("hi").alias("a"), F.col("m").alias("b"))
            )
            .where(F.col("a") != F.col("b"))
        )
        edges, new_fp = _checkpoint_fp(
            ss_pairs.select(
                F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
            ).distinct()
        )
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # exhausting max_rounds without a fixed point means the labels
        # below would be WRONG (a star forest was never reached) — fail
        # loudly rather than return silently-incorrect components
        raise RuntimeError(
            f"connected_components_twostar did not converge in {max_rounds} "
            "rounds; raise max_rounds (~log2 of the largest component "
            "suffices)"
        )
    # at the fixed point every (hi, lo) points hi at its component min
    comp = edges.groupBy(F.col("hi").alias("src")).agg(F.min("lo").alias("comp"))
    labels = (
        nodes.join(comp, nodes.node == comp.src, "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
    )
    return labels, rounds


@query("dedup_cluster_cc_twostar", oracle=_CC_ORACLE)
def dedup_cluster_cc_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_cc's exact output (identical oracle) computed with
    the large-star/small-star algorithm instead of min-label
    propagation — the web-scale swap the propagation lane's docstring
    names: rounds scale with log(component size), not diameter, so a
    100 TB duplicate graph with million-node chained components
    converges in ~20 rounds where propagation would need the chain
    length. Same near-dup graph (shared _neardup_graph), same roll-up;
    the round-count advantage is pinned on a planted 64-node chain in
    tests/test_iterative_pins.py (two-star ≤ 7 rounds; per-round label
    propagation without pointer jumping would need 63)."""
    groups, edges = _neardup_graph(spark, sf_dir)
    labels, _ = connected_components_twostar(
        groups.select(F.col("rep").alias("node")), edges
    )
    return _cc_rollup(labels, groups)


@query(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH names AS (
      SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name
    )
    SELECT a.p_name  AS name_a,
           b.p_name  AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist,
           a.n_parts AS n_parts_a,
           b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
     AND levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match on part names within edit distance 3 — the
    entity-resolution primitive for typo-grade name variants. Scale shape:
    collapse the fact table to its DISTINCT name dictionary first (one
    combiner-friendly groupBy; 2 000 rows → 64 names here, and name
    dictionaries stay ≪ fact cardinality at any scale), pair the
    dictionary via broadcast nested-loop (correct at dictionary size),
    and gate the O(len²) levenshtein behind the O(1) length-difference
    prefilter (edit distance ≥ length gap, so no matches are lost). For
    dictionaries past broadcast size, the pairing becomes an equi-join on
    blocking keys (length band × prefix, or a q-gram inverted index —
    dedup_ngram_jaccard's join shape) before the same verify."""
    names = (
        t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= 3)
            & (dist <= 3),
        )
        .select("name_a", "name_b", bi(dist).alias("dist"), "n_parts_a", "n_parts_b")
    )


from ..registry import ORACLES as _ORACLES, QUERIES  # noqa: E402  (composition below)


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    SELECT n_docs AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_docs) AS BIGINT) AS n_docs_in_size
    FROM (
    {_ORACLES["dedup_cluster_cc"]}
    ) clusters
    GROUP BY n_docs
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the report that decides
    dedup POLICY: a corpus whose mass sits in 2-doc clusters needs a
    different keeper strategy than one with a few 200-doc template
    families (dedup_keep_best picks keepers; this says how much each
    choice matters, and its tail is the early-warning for template
    spam). COMPOSES the iterative connected-components op — Spark side
    aggregates QUERIES['dedup_cluster_cc']'s fixpoint, the oracle wraps
    ORACLES['dedup_cluster_cc'] (the recursive CTE) as a derived table —
    the second composed-operator lane after lang_id_confusion_eval, and
    proof the composition pattern also spans ITERATIVE ops when their
    fixpoint carries an oracle. Output is size-grain (bounded by the
    largest family)."""
    clusters = QUERIES["dedup_cluster_cc"](spark, sf_dir)
    return clusters.groupBy(F.col("n_docs").alias("cluster_size")).agg(
        bi(F.count(F.lit(1))).alias("n_clusters"),
        bi(F.sum("n_docs")).alias("n_docs_in_size"),
    )


@query("dedup_cluster_recall_eval")  # rows-only: scores the hash-specific cluster lane
def dedup_cluster_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-LEVEL evaluation of the MinHash dedup clustering against
    the exact-Jaccard ground truth — the clustering-quality twin of the
    pair-level dedup_recall_eval: both clusterings reduce to their
    same-cluster representative PAIRS (the standard pair-counting view
    of a clustering — Rand-index numerators), and the report is pair
    precision/recall of minhash clusters vs exact clusters. This is the
    number that licenses shipping dedup_minhash_cluster's keeper map at
    100 TB: it bounds how many true duplicate pairs the banded
    approximation merges (recall) and how many spurious merges it
    introduces (precision) AFTER transitive closure — which pair-level
    metrics cannot see (one wrong edge can glue two whole clusters).
    Pair expansion is bounded by Σ|cluster|², computed per cluster key
    (both clusterings' components are duplicate families — small by
    construction). 1-row output."""
    from ..registry import QUERIES

    groups, edges = _neardup_graph(spark, sf_dir)
    nodes = groups.select(F.col("rep").alias("node"))
    exact_labels = connected_components(nodes, edges)

    mh = QUERIES["dedup_minhash_cluster"](spark, sf_dir).select(
        F.col("rep_id").alias("node"), F.col("cluster_id").alias("comp")
    )

    def _pairs(labels: DataFrame) -> DataFrame:
        a = labels.select(F.col("comp").alias("c"), F.col("node").alias("pa"))
        b = labels.select(F.col("comp").alias("c"), F.col("node").alias("pb"))
        return (
            a.join(b, "c")
            .filter(F.col("pa") < F.col("pb"))
            .select("pa", "pb")
        )

    # same pair UNIVERSE on both sides: the exact graph is lang-blocked
    # by design, the minhash lane is not — unrestricted comparison would
    # count every true cross-language near-dup against precision (a
    # definition mismatch, not approximation error; measured: precision
    # 0.22 unrestricted vs the same-lang figure reported here)
    lang = groups.select(F.col("rep").alias("node"), "lang")
    la = lang.select(F.col("node").alias("pa"), F.col("lang").alias("lang_a"))
    lb = lang.select(F.col("node").alias("pb"), F.col("lang").alias("lang_b"))

    def _same_lang(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(F.broadcast(la), "pa")
            .join(F.broadcast(lb), "pb")
            .filter(F.col("lang_a") == F.col("lang_b"))
            .select("pa", "pb")
        )

    pe = _pairs(exact_labels).cache()
    pm = _same_lang(_pairs(mh)).cache()
    n_e = pe.count()
    n_m = pm.count()
    n_common = pe.join(pm, ["pa", "pb"], "left_semi").count()
    return spark.createDataFrame(
        [
            (
                n_e,
                n_m,
                n_common,
                round(n_common / n_e, 6) if n_e else 1.0,
                round(n_common / n_m, 6) if n_m else 1.0,
            )
        ],
        schema="n_pairs_exact bigint, n_pairs_minhash bigint, n_common bigint,"
        " pair_recall double, pair_precision double",
    )
