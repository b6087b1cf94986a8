"""§2-J Text analysis + deduplication (LLM-data-pipeline operators).

Tokenization is whitespace split (the corpus is pre-normalized lowercase,
FIXTURES.md) — all JVM-side: split/explode/higher-order functions, no
Python in any hot path.

Scale design:

- wordcount / doc-stats / tf-idf: hash aggregations keyed by term or
  (doc, term) — shuffle rows ∝ distinct keys, not corpus bytes.
- exact dedup: hash-groupBy on a canonical fingerprint; at 100 TB group by
  a 128-bit hash of the fingerprint instead of the string itself to keep
  shuffle rows narrow.
- near-dup: the exact token-Jaccard self-join is blocked by `lang` and
  would additionally cap token document-frequency at real scale (drop
  stop-tokens with df > threshold, which bounds the per-token join
  fan-out); the 100-TB path is `dedup_minhash_lsh`, where cost is
  O(corpus) signature computation + a bucket-join whose fan-out is
  controlled by band width, not corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table as t
from ..functions.parity import bi, r6
from ..functions.ranks import with_global_row_number
from ..registry import QUERIES, query

#: MinHash parameters: 64 permutations in 8 bands of 8 rows. The LSH
#: S-curve threshold (1/b)^(1/r) = (1/8)^(1/8) ≈ 0.77 sits just under the
#: 0.8 target: collision prob ≈ 0.75 at s=0.8, ≈ 0.97 at s=0.9, but only
#: ≈ 0.13 at s=0.6 — wider bands (e.g. 16×4, threshold ≈ 0.35) made 68%
#: of ALL pairs candidates on this dense corpus (measured), destroying
#: LSH's selectivity.
_MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1
_N_HASHES = 64
_N_BANDS = 8
_BAND_ROWS = 8
#: two SEPARATE measured gates in the LSH lane (round 5): past _DOP_GATE
#: the band/candidate stages get explicit numbered repartitions (AQE
#: would coalesce the exploding bucket join); past _SCORING_BROADCAST_MAX
#: distinct docs the signature table (~600 B/doc) stops being
#: broadcastable and the scoring joins swap broadcast → keyed
#: shuffle-hash. Conflating them (round-5 first attempt) made 500k-doc
#: corpora pay four pair-stream shuffles while the 300 MB broadcast was
#: still the faster, safe choice — measured ~2× end-to-end regression.
_DOP_GATE = 15_000
_SCORING_BROADCAST_MAX = 1_000_000
#: Round-13 third scoring tier: below this the candidate filter +
#: signature scoring run as numpy gathers inside Arrow-batched pandas
#: UDFs over (doc_a, doc_b) key pairs — the signature/band matrices ride
#: a SparkContext broadcast and ids resolve by searchsorted, so only two
#: longs per pair cross the Python boundary. The JVM zip-compare HOFs
#: they replace are interpreted per element (guide §4.2): 17.4M pairs ×
#: (8+64) slots measured 9.5-10.1 s vs 4.2 s numpy at the 10× dup-sparse
#: scale (frames byte-equal; sf0.1 at parity). The gate is MEMORY, not
#: speed: every Python worker unpickles its own matrix copy (~584 B/doc
#:  — 64+8 int64 slots + id), so 250k docs ≈ 146 MB/worker ≈ 4.7 GB
#: across 32 local workers / ~1 GB on an 8-core executor (size
#: spark.executor.memoryOverhead accordingly, guide §5). Past it the
#: round-5/8 tiers stand unchanged: broadcast zip-compare to 1M docs,
#: keyed shuffle-hash beyond.
_SCORING_NUMPY_MAX = 250_000

#: Matrix broadcasts created by the numpy scoring tiers (pair lane +
#: incremental lane). Round 14 (guide §5, ADVICE r13): left to the
#: ContextCleaner they accumulate across invocations (~2.3 MB each at
#: sf0.1, 146 MB each at the gate ceiling — bench measured
#: broadcast_blocks 6 → 39 over one run), so each lane RETIRES the
#: previous invocations' broadcasts at entry. Contract this relies on
#: (holds for every registered caller, the bench, and the test sweeps):
#: a frame returned by the pair or incremental lane is materialized
#: before the next invocation of either lane on the same SparkContext.
#: dedup_minhash_cluster creates no matrix broadcast (it scores inside
#: its bucket tasks). destroy (not unpersist) because in local mode the
#: driver IS the only block manager and unpersist(false) removes
#: nothing there.
_NUMPY_TIER_BCS: list = []


def _retire_numpy_tier_broadcasts() -> None:
    while _NUMPY_TIER_BCS:
        b = _NUMPY_TIER_BCS.pop()
        try:
            b.destroy(blocking=False)
        except Exception:  # noqa: BLE001 — context stopped / already gone
            pass


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, term) with empty tokens dropped — one row per token
    occurrence."""
    return docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")


@query(
    "text_wordcount",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT term, count(*) AS cnt FROM tok WHERE term != '' GROUP BY term
    )
    SELECT term, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS rnk
    FROM counts
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term counts with deterministic ranking (count desc, term asc).

    The rank is range-partitioned (round 2): an unpartitioned
    ``Window.orderBy`` funnels the whole vocabulary — 10⁸–10⁹ rows at web
    scale — through ONE partition. Instead the counts are
    ``repartitionByRange`` on the sort key, each partition ranks locally,
    and a broadcast of the (≤ n_partitions rows) per-partition offsets
    turns local row_numbers into the identical global rank. The one
    remaining global window runs over the partition-size table, which has
    one row per partition by construction. The cache pins the range
    boundaries: RangePartitioner samples per materialization, and the
    offset branch and the rank branch must see the SAME partitioning."""
    docs = t(spark, sf_dir, "documents")
    counts = _tokens(docs).groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = with_global_row_number(
        counts, [F.col("cnt").desc(), F.col("term").asc()], "_rn"
    )
    return ranked.select("term", "cnt", bi(F.col("_rn")).alias("rnk"))


@query(
    "text_doc_stats",
    oracle="""
    SELECT
      lang,
      count(*)                                                       AS n_docs,
      round(avg(n_chars), 6)                                         AS avg_chars,
      round(avg(len(list_filter(string_split(text, ' '), x -> x != ''))), 6) AS avg_tokens,
      count(DISTINCT source)                                         AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (token counting stays in the JVM via
    size∘filter∘split)."""
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg("n_chars")).alias("avg_chars"),
        r6(F.avg(n_tokens)).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term != '' GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rn FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
      ) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf with smoothed idf ln((N+1)/(df+1))+1, top-5 terms per doc.
    Ranking orders by the ROUNDED score (then term) so tie order is
    identical across engines. The doc-frequency join strategy is GATED on
    the measured vocab count (see tfidf_topk_frame); N arrives via a
    broadcast single-row cross join (1 row — bounded by construction)."""
    return tfidf_topk_frame(t(spark, sf_dir, "documents"))


#: Vocabulary is UNBOUNDED cardinality at corpus scale (Heaps' law keeps
#: minting distinct terms — billions at 100 TB), so the doc-frequency
#: table may NOT broadcast unconditionally (round-8 fix; same trap the
#: round-5 verdict closed in the minhash scoring join). Gate mirrors
#: _SCORING_BROADCAST_MAX: a (term, df) row is ~40 B in the broadcast
#: hash table, so 2M terms ≈ 80 MB — comfortably under executor
#: broadcast headroom; past it the join flips to keyed SHUFFLE_HASH with
#: the vocab side building the hash table (always smaller than the
#: token-pair stream; no sort of that stream).
_TFIDF_VOCAB_BROADCAST_MAX = 2_000_000


def tfidf_topk_frame(docs: DataFrame) -> DataFrame:
    """tf-idf over an arbitrary documents DataFrame — split out so tests
    can run the identical plan over re-partitioned/filtered inputs
    (partitioning-invariance property, tests/test_properties.py)."""
    tf = _tokens(docs).groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df is vocab-sized (one row per distinct term): cache it so the
    # measured-gate count below and the scoring join share one pass —
    # the minhash lane's sigs.cache()+count() template (text.py:437-462).
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).cache()
    n_vocab = df.count()
    df_side = (
        df.hint("shuffle_hash")
        if n_vocab > _TFIDF_VOCAB_BROADCAST_MAX
        else F.broadcast(df)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_side, "term")
        .crossJoin(F.broadcast(n))  # bounded: 1 row by construction
        .select(
            "doc_id",
            "term",
            r6(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", bi(F.row_number().over(w))).filter(F.col("rn") <= 5)
    )


@query(
    "dedup_exact",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x != ''))), ' ') AS fingerprint
      FROM documents
    )
    SELECT
      fingerprint,
      count(*)                                          AS n_dups,
      min(doc_id)                                       AS keep_doc_id,
      array_to_string(list_sort(list(doc_id)), ',')     AS doc_ids_csv
    FROM canon
    GROUP BY fingerprint
    HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups on a canonical fingerprint (sorted distinct
    token set — raw texts in this corpus never collide verbatim, FIXTURES).
    The keeper is min(doc_id); dropDuplicates on the fingerprint is the
    one-liner variant of the same plan. Single hash-groupBy shuffle."""
    docs = t(spark, sf_dir, "documents")
    fingerprint = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.filter(F.split("text", " "), lambda x: x != "")))
    )
    return (
        docs.select("doc_id", fingerprint.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
            F.concat_ws(",", F.array_sort(F.collect_list("doc_id"))).alias("doc_ids_csv"),
        )
        .filter(F.col("n_dups") > 1)
    )


@query(
    "dedup_near_jaccard",
    oracle="""
    WITH tok_raw AS (
      SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tok AS (
      SELECT * FROM tok_raw WHERE term != ''
    ), sizes AS (
      SELECT doc_id, count(*) AS n_terms FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM tok a JOIN tok b ON a.term = b.term AND a.lang = b.lang
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT
      doc_a, doc_b,
      round(CAST(n_common AS DOUBLE) / (sa.n_terms + sb.n_terms - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_terms + sb.n_terms - n_common) >= 0.8
    """,
)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.8, blocked by language: token-level
    equi-join → per-pair intersection count → |∩|/(|A|+|B|−|∩|). Exact but
    O(Σ df²) — the scalable twin is dedup_minhash_lsh."""
    docs = t(spark, sf_dir, "documents")
    tok = _tokens(docs).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    a = tok.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), "term"
    )
    b = tok.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), "term"
    )
    inter = (
        a.join(b, ["term"])
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("lang_a") == F.col("lang_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_terms").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_terms").alias("n_b"))
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", r6(jac).alias("jaccard"))
    )


def _minhash_coeffs() -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients — fixed linear
    congruential generator, no runtime randomness."""
    coeffs, x = [], 88172645463325252
    for _ in range(_N_HASHES):
        # xorshift64 steps; a must be non-zero mod p
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        a = (x % (_MINHASH_P - 1)) + 1
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        b = x % _MINHASH_P
        coeffs.append((int(a), int(b)))
    return coeffs


_UDF_CACHE: dict = {}


def _minhash_sig_udf():
    """64 permutation minima per document: (A·h + B) mod p, min over the
    token axis, vectorized in int64 numpy (h < p and A < p so A·h < 2⁶²
    — no overflow; arithmetic is bit-identical to the JVM pmod form).
    Built lazily (pandas_udf registration needs an active session) and
    memoized so every caller shares one registered UDF."""
    if "minhash_sig" not in _UDF_CACHE:

        @F.pandas_udf("array<bigint>")
        def sig_udf(th: pd.Series) -> pd.Series:
            import numpy as np

            ab = np.array(_minhash_coeffs(), dtype=np.int64)
            A, B = ab[:, 0][:, None], ab[:, 1][:, None]
            out = [
                ((A * np.asarray(h, dtype=np.int64)[None, :] + B) % _MINHASH_P).min(axis=1)
                for h in th
            ]
            return pd.Series(out)

        _UDF_CACHE["minhash_sig"] = sig_udf
    return _UDF_CACHE["minhash_sig"]


@query("dedup_minhash_lsh")  # rows-only: minhash signatures are hash-impl-specific
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable near-dup detection, two-stage:

    1. **Exact collapse**: docs group by their canonical token-set
       fingerprint; one representative (min doc_id) survives per distinct
       set. Identical texts are Jaccard-1 near-dups by definition and —
       crucially — identical MinHash signatures collide in EVERY band, so
       skipping this stage makes LSH bucket joins quadratic in duplicate
       cluster size (measured: one 248-doc identical group at sf0.1
       dominated the whole runtime).
    2. **MinHash-LSH on representatives**: 64 explicit (a·x+b) mod p
       permutations over xxhash64 token hashes → 8 bands × 8 rows →
       bucket self-join for candidates → similarity estimated from the
       fraction of matching signature slots (E[match] = Jaccard), kept at
       est ≥ 0.75 for the 0.8 target.

    Shuffle contract (round 2): the ONLY corpus-scale shuffle is the
    stage-1 fingerprint groupBy. Signatures are computed **in-row** from
    the fingerprint's token array with higher-order functions (64
    ``array_min∘transform`` permutations over one xxhash64 pass) — the
    round-1 explode → corpus-token-row shuffle → 64-column min-agg
    pipeline is gone. Banding is one ``posexplode`` of an 8-element
    band-hash array (single projection, not an 8-branch union), so band
    generation no longer depends on ``.cache()`` to stay cheap; the one
    remaining cache is the tiny per-distinct-doc signature table that
    feeds both join sides and both broadcast lookups.

    Verification is signature-based on purpose: candidate scoring never
    re-touches the corpus text — unlike a token-level exact verify join,
    which re-shuffles the corpus (measured 2× slower here and unboundedly
    worse at scale). HOW the pairs score is gated in three tiers
    (rounds 5/8/13): up to _SCORING_NUMPY_MAX distinct docs the
    signature/band matrices ship to the Python workers once and pairs
    score by vectorized numpy gather (guide §4.2 — the interpreted JVM
    zip-compare HOFs measured 2.2 billion lambda evaluations at the 10×
    scale; see _SCORING_NUMPY_MAX for the A/B and the per-worker memory
    bound); up to _SCORING_BROADCAST_MAX the table broadcasts and the
    compare is a map-side zip (no shuffle — safe while the table fits an
    executor); past that ceiling broadcast would be the scale-killer, so
    the scoring joins become keyed SHUFFLE_HASH joins (signature side
    builds the hash table — always far smaller than the quadratic pair
    stream). Exact Jaccard lives in dedup_near_jaccard;
    this is the approximate lane. The body lives in
    ``_lsh_pairs_from_groups`` and the signature stage in
    ``_signatures``, which ``dedup_minhash_cluster`` shares over its own
    cached fingerprint groupBy.

    Round 4 (the both-scale bench caught the dup-dense 10× case): pair
    dedup is now the first-matching-band filter (no pair-stream
    hash-agg distinct — that stage alone measured 137 s vs 53 s at the
    10× scale), and the two explicit numbered repartitions (candidate
    join DOP, pre-scoring rebalance) are gated on a measured corpus
    statistic because AQE coalescing is right for small corpora and
    catastrophically wrong once the bucket self-join output explodes
    quadratically in duplicate-family size. The op is OUTPUT-bound on
    dup-dense corpora — 10× data with 10-replica families means ~100×
    true near-dup pairs (0.8M → 79.5M measured) — so wall grows with
    output, not corpus; per-pair cost FELL ~4×. When pair enumeration
    itself is the bottleneck at 100 TB, the swap is cluster-form output
    (dedup_cluster_cc / dedup_cluster_cc_twostar emit one row per doc,
    linear in corpus).

    100-TB path: stage 1 is one fingerprint hash-groupBy over the corpus;
    stage 2's cost scales with DISTINCT content, and band width controls
    bucket fan-out. Returns candidate representative pairs with estimated
    similarity and member counts (pair expansion to raw doc ids is a join
    against stage 1)."""
    return _lsh_pairs_from_groups(spark, _fingerprint_groups(t(spark, sf_dir, "documents")))


def _fingerprint_groups(docs: DataFrame) -> DataFrame:
    """Stage 1 of the MinHash lanes: exact collapse by canonical
    token-set fingerprint → (fp, rep_id, n_members), one row per
    DISTINCT content. Shared so dedup_minhash_cluster can cache ONE
    corpus pass and feed it to both the signature stage and its own
    node/member bookkeeping."""
    fingerprint = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.filter(F.split("text", " "), lambda x: x != "")))
    )
    return (
        docs.select("doc_id", fingerprint.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_members"))
    )


def _signatures(groups: DataFrame) -> DataFrame:
    """(rep_id, n_members, sig, bh) per fingerprint group: the 64 MinHash
    minima and the 8 band hashes both MinHash lanes over fingerprint
    groups start from. Empty-token docs (empty th array) drop out."""
    # one xxhash64 per token, then 64 in-row permutation minima — no
    # explode, no shuffle
    th_arr = F.transform(
        F.filter(F.split("fp", " "), lambda x: x != ""),
        lambda tk: F.pmod(F.xxhash64(tk), F.lit(_MINHASH_P)),
    )
    # the 64 permutation minima are ONE Arrow-batched pandas_udf doing a
    # vectorized (64×t) multiply-add-mod + min per document ((a·h+b) mod
    # p, h pre-reduced mod p JVM-side); interpreted array_min∘transform
    # HOFs measured ~10× more signature-stage wall
    sig = _minhash_sig_udf()(F.col("th"))
    band_hashes = F.array(
        *[
            F.xxhash64(F.lit(band), F.slice("sig2", band * _BAND_ROWS + 1, _BAND_ROWS))
            for band in range(_N_BANDS)
        ]
    )
    return (
        groups.select("rep_id", "n_members", th_arr.alias("th"))
        .filter(F.size("th") > 0)
        .select("rep_id", "n_members", sig.alias("sig2"))
        .select(
            "rep_id",
            "n_members",
            F.col("sig2").alias("sig"),
            band_hashes.alias("bh"),
        )
    )


def _lsh_pairs_from_groups(spark: SparkSession, groups: DataFrame) -> DataFrame:
    """Stage 2 of dedup_minhash_lsh (see its docstring for the full
    design history): signatures → banding → candidate join →
    first-matching-band dedup → signature-estimate scoring."""
    # sigs fans out into 4 plan branches (bands ×2 join sides + 2
    # broadcast lookups) — cache it or the parquet scan + fingerprint
    # groupBy re-runs per branch. Tiny: one row per DISTINCT document.
    sigs = _signatures(groups).cache()

    # Candidate-stage parallelism is chosen from a MEASURED statistic
    # (the cached signature count — one scalar, AQE-style): the band
    # table is tiny (8 rows/doc) so AQE coalesces its shuffle to a
    # handful of partitions, which is right when candidates are few but
    # serializes the op when the self-join OUTPUT explodes quadratically
    # in duplicate-family size (195M band hits / 133M candidate pairs at
    # the 10× bench scale ran on 3 AQE-coalesced partitions). A
    # user-NUMBERED repartition is exempt from AQE coalescing; it costs
    # an extra (tiny) shuffle + 32-task stage overhead, so it is only
    # applied past the corpus size where explosion dominates.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_sigs = sigs.count()
    big_corpus = n_sigs > _DOP_GATE
    huge_corpus = n_sigs > _SCORING_BROADCAST_MAX
    numpy_scoring = n_sigs <= _SCORING_NUMPY_MAX
    _retire_numpy_tier_broadcasts()  # bound lifecycle regardless of tier
    if numpy_scoring:
        # round 13 (guide §4.2): ship the signature/band matrices to the
        # Python workers once and score pairs by vectorized numpy gather
        # instead of per-element interpreted zip-compare HOFs — see
        # _SCORING_NUMPY_MAX for the measured A/B and the memory gate.
        # The driver-side collect is the same bytes the JVM broadcast
        # build below would pull (bounded by the gate); ids sort so
        # searchsorted resolves doc ids to matrix rows.
        import numpy as np

        srows = sigs.select("rep_id", "sig", "bh").collect()
        srows.sort(key=lambda r: r["rep_id"])
        sig_ids = np.array([r["rep_id"] for r in srows], dtype=np.int64)
        sig_mat = np.array([r["sig"] for r in srows], dtype=np.int64).reshape(
            len(srows), _N_HASHES
        )
        band_mat = np.array([r["bh"] for r in srows], dtype=np.int64).reshape(
            len(srows), _N_BANDS
        )
        bc = spark.sparkContext.broadcast((sig_ids, sig_mat, band_mat))
        _NUMPY_TIER_BCS.append(bc)

        def _rows_of(ids, s):
            # membership-checked id → matrix-row resolution (ADVICE r13):
            # a foreign id must FAIL, not silently gather a neighbor
            v = s.to_numpy()
            ix = np.searchsorted(ids, v)
            ok = (ix < ids.size) & (ids[np.minimum(ix, ids.size - 1)] == v)
            if not ok.all():
                raise KeyError(
                    f"{int((~ok).sum())} pair doc id(s) absent from the "
                    "signature matrix — pairs must derive from the same "
                    "sigs table the matrices were built from"
                )
            return ix

        @F.pandas_udf("bigint")
        def _first_band_np(a: pd.Series, b: pd.Series) -> pd.Series:
            if a.empty:
                return pd.Series([], dtype="int64")
            ids, _, bm = bc.value
            eq = bm[_rows_of(ids, a)] == bm[_rows_of(ids, b)]
            return pd.Series(np.where(eq.any(axis=1), eq.argmax(axis=1), -1))

        @F.pandas_udf("bigint")
        def _n_match_np(a: pd.Series, b: pd.Series) -> pd.Series:
            if a.empty:
                return pd.Series([], dtype="int64")
            ids, sm, _ = bc.value
            return pd.Series(
                (sm[_rows_of(ids, a)] == sm[_rows_of(ids, b)]).sum(axis=1)
            )

        # guide §4.4: both UDFs feed filters — deterministic, Catalyst
        # collapses them into ONE eval node below BOTH filters (scoring
        # every RAW pair) and then re-evaluates n_match above for the
        # output column. Nondeterministic forbids the reorder/duplicate:
        # first_band runs once over raw pairs, n_match once over
        # first-band survivors.
        _first_band_np = _first_band_np.asNondeterministic()
        _n_match_np = _n_match_np.asNondeterministic()

    bands = sigs.select("rep_id", F.posexplode("bh").alias("band", "bucket"))
    if big_corpus:
        bands = bands.repartition(n_parts, "band", "bucket")
    left = bands.select(F.col("rep_id").alias("doc_a"), "band", "bucket")
    right = bands.select(F.col("rep_id").alias("doc_b"), "band", "bucket")
    raw_pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "band")
    )

    # Pair dedup (round 4): the FIRST-MATCHING-BAND filter, not a
    # distinct. A pair surfaces in up to n_bands buckets; round 3 deduped
    # with repartition+distinct — a pair-stream shuffle that goes
    # quadratic in duplicate-cluster size (the round-4 both-scale bench
    # caught it: 195M band hits / 133M candidate pairs at the 10× scale,
    # distinct alone measured 137 s). With the band-hash arrays
    # broadcast, "is this the first band where the pair collides?" is a
    # map-side zip-compare + array_position — each pair survives exactly
    # once and NO pair-stream shuffle exists anywhere (the rebalance
    # below is the only remaining pair-keyed exchange, and only at the
    # big-corpus gate). Two-phase on purpose: phase 1 touches only the
    # SLIM 8-long bh arrays (a single-phase join that also attached the
    # 64-long signatures measured ~3× slower end to end — 128 longs
    # materialized per pre-filter row); phase 2 attaches signatures to
    # survivors only. 10× scale: 75-78 s end to end, which is
    # OUTPUT-bound (79.5M true pairs); sf0.1 warm ≈ 1.9 s.
    bha = sigs.select(F.col("rep_id").alias("doc_a"), F.col("bh").alias("bh_a"))
    bhb = sigs.select(F.col("rep_id").alias("doc_b"), F.col("bh").alias("bh_b"))

    def _attach(pairs: DataFrame, side_tbl: DataFrame, key: str) -> DataFrame:
        # Scoring-join strategy has its OWN measured gate (round 5),
        # DELIBERATELY higher than the DOP gate — the two thresholds
        # protect against different failure modes. Broadcast scoring is a
        # shuffle-free map-side zip-compare and stays correct as long as
        # the per-distinct-doc signature table actually fits an executor
        # (~600 MB at the 1M-doc ceiling); swapping to a keyed join EARLIER
        # than that trades one broadcast for up to four shuffles of the
        # QUADRATIC pair stream — measured at the 10× dup-dense bench
        # scale (500k docs): shuffle-hash scoring ~2× slower end to end
        # than broadcast. Past the ceiling the table is corpus-sized and
        # broadcast is the scale-killer, so the joins become keyed
        # SHUFFLE_HASH (signature side builds the hash table — always far
        # smaller than the pair stream; no sort of that stream).
        if huge_corpus:
            return pairs.join(side_tbl.hint("shuffle_hash"), key)
        return pairs.join(F.broadcast(side_tbl), key)
    first_band = (
        F.array_position(
            F.zip_with("bh_a", "bh_b", lambda x, y: x == y), F.lit(True)
        )
        - 1
    )
    # The explicit rebalance repartition before scoring is the OTHER half
    # of the round-3 lesson: candidate volume is quadratic in bucket
    # size, so the (band, bucket)-partitioned candidate stream is heavily
    # skewed (one mega-bucket's pairs land in one task) and the scoring
    # stage serializes on the biggest bucket without it. The shuffled
    # rows are SLIM (two longs — the 64-long signatures attach after),
    # so the rebalance costs ~2 GB at the 10× scale vs the minutes a
    # skewed scoring tail costs. Same big-corpus gate as above.
    if numpy_scoring:
        unique_pairs = raw_pairs.filter(
            _first_band_np("doc_a", "doc_b") == F.col("band")
        ).select("doc_a", "doc_b")
    else:
        unique_pairs = (
            _attach(_attach(raw_pairs, bha, "doc_a"), bhb, "doc_b")
            .filter(first_band == F.col("band"))
            .select("doc_a", "doc_b")
        )
    if big_corpus:
        unique_pairs = unique_pairs.repartition(n_parts, "doc_a", "doc_b")

    if numpy_scoring:
        # numpy scoring lane: matches counted by matrix gather; only the
        # two key longs cross the Python boundary per pair. n_members
        # attaches from a SLIM (rep_id, n_members) broadcast — two longs
        # per distinct doc, far under the signature table the non-numpy
        # tiers must ship.
        est_np = _n_match_np("doc_a", "doc_b").cast("double") / F.lit(
            float(_N_HASHES)
        )
        nm = sigs.select("rep_id", "n_members")
        nma = nm.select(
            F.col("rep_id").alias("doc_a"), F.col("n_members").alias("n_members_a")
        )
        nmb = nm.select(
            F.col("rep_id").alias("doc_b"), F.col("n_members").alias("n_members_b")
        )
        return (
            unique_pairs.withColumn("est_jaccard", r6(est_np))
            .filter(F.col("est_jaccard") >= 0.75)
            .join(F.broadcast(nma), "doc_a")
            .join(F.broadcast(nmb), "doc_b")
            .select("doc_a", "doc_b", "est_jaccard", "n_members_a", "n_members_b")
        )

    # signature-estimate scoring: broadcast the signature arrays to both
    # sides; similarity = fraction of matching slots (shuffle-free).
    siga = sigs.select(
        F.col("rep_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("n_members").alias("n_members_a"),
    )
    sigb = sigs.select(
        F.col("rep_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("n_members").alias("n_members_b"),
    )
    # size∘filter∘zip_with beats an aggregate fold (~15% measured) and
    # both beat 64 codegen'd element_at comparisons (~4× — the wide
    # comparison expression defeats codegen, measured at sf0.1)
    n_match = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    est = n_match.cast("double") / F.lit(float(_N_HASHES))
    return (
        _attach(_attach(unique_pairs, siga, "doc_a"), sigb, "doc_b")
        .withColumn("est_jaccard", r6(est))
        .filter(F.col("est_jaccard") >= 0.75)
        .select("doc_a", "doc_b", "est_jaccard", "n_members_a", "n_members_b")
    )


@query("dedup_minhash_incremental")  # rows-only: minhash signatures are hash-impl-specific
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH — dedup_minhash_lsh's batch-vs-store form,
    the one production runs daily at 100 TB: the EXISTING corpus (even
    doc_ids) exists only as its persisted signature store (rep_id, 64
    minima, band buckets — kilobytes per thousand docs, written once);
    the NEW batch (odd doc_ids) computes signatures for ITS docs only,
    joins its band buckets against the store's, and scores candidates
    through the same measured scoring tiers as the pair lane (numpy
    matrix gather under _SCORING_NUMPY_MAX, broadcast zip-compare, then
    keyed shuffle-hash). The corpus TEXT is never re-read,
    re-tokenized, or re-hashed — per-day cost scales with the batch, not
    the corpus, which is the whole point (dedup_incremental_exact is the
    exact-duplicate analogue; this is the near-dup one). Per batch rep:
    best store match, estimated Jaccard, near-dup verdict at the 0.75
    signature threshold. Rows-only lane (xxhash64-specific signatures);
    end-to-end behavior pinned in tests/test_iterative_pins.py on a
    planted near-dup/disjoint fixture."""
    from .sources import _scratch

    docs = t(spark, sf_dir, "documents")
    fingerprint = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.filter(F.split("text", " "), lambda x: x != "")))
    )
    th_arr = F.transform(
        F.filter(F.split("fp", " "), lambda x: x != ""),
        lambda tk: F.pmod(F.xxhash64(tk), F.lit(_MINHASH_P)),
    )
    band_hashes = F.array(
        *[
            F.xxhash64(F.lit(band), F.slice("sig", band * _BAND_ROWS + 1, _BAND_ROWS))
            for band in range(_N_BANDS)
        ]
    )

    def sig_table(side):
        groups = (
            side.select("doc_id", fingerprint.alias("fp"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_members"))
        )
        return (
            groups.select("rep_id", "n_members", th_arr.alias("th"))
            .filter(F.size("th") > 0)
            .select("rep_id", "n_members", _minhash_sig_udf()(F.col("th")).alias("sig"))
        )

    # ---- store build (the once-per-corpus step; daily runs only READ it)
    store_path = _scratch(sf_dir, "minhash_store")
    sig_table(docs.filter(F.col("doc_id") % 2 == 0)).write.mode("overwrite").parquet(
        store_path
    )
    store = spark.read.parquet(store_path)
    store_bands = store.select(
        F.col("rep_id").alias("corpus_id"),
        F.posexplode(band_hashes).alias("band", "bucket"),
    )

    # ---- daily batch: signatures for batch docs only
    batch = sig_table(docs.filter(F.col("doc_id") % 2 == 1)).cache()
    batch_bands = batch.select(
        F.col("rep_id").alias("batch_id"),
        F.posexplode(band_hashes).alias("band", "bucket"),
    )
    cands = (
        batch_bands.join(store_bands, ["band", "bucket"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    # batch is bounded by contract (one day's arrivals) → broadcast; the
    # STORE is corpus-scale, so scoring carries the measured gates
    # (round-8 sweep, SCALE.md S17; round-14 numpy tier — VERDICT r13
    # ask #5): under _SCORING_NUMPY_MAX total signatures the candidate
    # scoring is the same matrix-gather pandas UDF as the pair lane
    # (guide §4.2 — the zip-compare HOF it replaces is 64 interpreted
    # lambda evaluations per candidate; only the two id longs cross the
    # Python boundary), sharing the gate's per-worker memory bound and
    # the retire-at-entry broadcast lifecycle. Above it: broadcast
    # zip-compare under the shared ceiling, keyed shuffle_hash beyond
    # (signature side builds the hash table).
    n_store, n_batch = store.count(), batch.count()
    _retire_numpy_tier_broadcasts()  # bound lifecycle regardless of tier
    if n_store + n_batch <= _SCORING_NUMPY_MAX:
        import numpy as np

        srows = (
            store.select("rep_id", "sig").collect()
            + batch.select("rep_id", "sig").collect()
        )
        srows.sort(key=lambda r: r["rep_id"])
        sig_ids = np.array([r["rep_id"] for r in srows], dtype=np.int64)
        sig_mat = np.array([r["sig"] for r in srows], dtype=np.int64).reshape(
            len(srows), _N_HASHES
        )
        bc = spark.sparkContext.broadcast((sig_ids, sig_mat))
        _NUMPY_TIER_BCS.append(bc)

        @F.pandas_udf("bigint")
        def _n_match_inc(a: pd.Series, b: pd.Series) -> pd.Series:
            if a.empty:
                return pd.Series([], dtype="int64")
            ids, sm = bc.value

            def rows_of(s):
                # membership-checked resolution (ADVICE r13): a foreign
                # id must FAIL, not silently gather a neighbor
                v = s.to_numpy()
                ix = np.searchsorted(ids, v)
                ok = (ix < ids.size) & (
                    ids[np.minimum(ix, ids.size - 1)] == v
                )
                if not ok.all():
                    raise KeyError(
                        f"{int((~ok).sum())} candidate id(s) absent from "
                        "the store/batch signature matrix"
                    )
                return ix

            return pd.Series(
                (sm[rows_of(a)] == sm[rows_of(b)]).sum(axis=1)
            )

        est = cands.select(
            "batch_id",
            "corpus_id",
            (_n_match_inc("batch_id", "corpus_id") / F.lit(64.0)).alias(
                "est_jaccard"
            ),
        )
    else:
        store_sigs = store.select(
            F.col("rep_id").alias("corpus_id"), F.col("sig").alias("sig_c")
        )
        store_side = (
            F.broadcast(store_sigs)
            if n_store <= _SCORING_BROADCAST_MAX
            else store_sigs.hint("shuffle_hash")
        )
        est = (
            cands.join(
                F.broadcast(batch.select(F.col("rep_id").alias("batch_id"), F.col("sig").alias("sig_b"))),
                "batch_id",
            )
            .join(store_side, "corpus_id")
            .select(
                "batch_id",
                "corpus_id",
                (
                    F.size(F.filter(F.zip_with("sig_b", "sig_c", lambda a, b: a == b), lambda x: x))
                    / F.lit(64.0)
                ).alias("est_jaccard"),
            )
        )
    w = Window.partitionBy("batch_id").orderBy(
        F.desc("est_jaccard"), F.asc("corpus_id")
    )
    best = (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("batch_id", F.col("corpus_id").alias("best_match"), "est_jaccard")
    )
    return (
        batch.select(F.col("rep_id").alias("batch_id"), "n_members")
        .join(best, "batch_id", "left")
        .select(
            "batch_id",
            bi(F.col("n_members")).alias("n_members"),
            "best_match",
            r6(F.col("est_jaccard")).alias("est_jaccard"),
            F.coalesce(F.col("est_jaccard") >= 0.75, F.lit(False)).alias("is_near_dup"),
        )
    )


@query("dedup_recall_eval")  # rows-only: candidate side is xxhash64-signature-specific
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval harness for the near-dup lane — the loop a production corpus
    pipeline actually runs before trusting MinHash verdicts at scale:
    exact ground truth (all distinct-representative pairs with true
    token-set Jaccard ≥ 0.8, via the inverted-index pair join) compared
    against dedup_minhash_lsh's candidate set (band collision + signature
    estimate ≥ 0.75), reporting recall (GT pairs surfaced) and precision
    (candidates that are true ≥0.8 pairs). sim_recall_eval does this for
    ANN neighbor search; this closes the loop for dedup. The GT side is
    the quadratic oracle lane (affordable at eval scale ONLY — you run
    this on a sample, never the corpus; the measured recall is what
    licenses running ONLY minhash on the other 99.99%). One-row output;
    both pair sets computed on the same exact-collapsed representatives
    so the comparison is apples-to-apples."""
    docs = t(spark, sf_dir, "documents")
    fingerprint = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.filter(F.split("text", " "), lambda x: x != "")))
    )
    groups = (
        docs.select("doc_id", fingerprint.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_id"))
        # deterministic 1-in-5 representative sample: the exact GT side is
        # quadratic BY DESIGN (it is the thing approximate dedup replaces),
        # so the eval runs on a fixed sample — pair counts shrink ~25x and
        # the recall/precision estimates are unbiased for within-sample
        # pairs, which is how this harness is meant to be run at any scale
        .where(F.col("rep_id") % 5 == 0)
    )
    toks = groups.select(
        "rep_id", F.explode(F.filter(F.split("fp", " "), lambda x: x != "")).alias("term")
    )
    sizes = toks.groupBy("rep_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("rep_id").alias("da"), "term")
    b = toks.select(F.col("rep_id").alias("db"), F.col("term").alias("term_b"))
    inter = (
        a.join(b, (F.col("term") == F.col("term_b")) & (F.col("da") < F.col("db")))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    gt = (
        inter.join(F.broadcast(sizes.select(F.col("rep_id").alias("da"), F.col("sz").alias("sa"))), "da")
        .join(F.broadcast(sizes.select(F.col("rep_id").alias("db"), F.col("sz").alias("sb"))), "db")
        .where(
            F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")) >= 0.8
        )
        .select("da", "db")
        .cache()
    )
    cand = (
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        .select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
        .where((F.col("da") % 5 == 0) & (F.col("db") % 5 == 0))
        .cache()
    )
    n_true = gt.count()
    n_cand = cand.count()
    n_hit = gt.join(cand, ["da", "db"], "left_semi").count()
    return spark.createDataFrame(
        [
            (
                n_true,
                n_cand,
                n_hit,
                round(n_hit / n_true, 6) if n_true else None,
                round(n_hit / n_cand, 6) if n_cand else None,
            )
        ],
        schema="n_true_pairs bigint, n_candidates bigint, n_hits bigint, recall double, precision double",
    )


#: Closure edge test of the cluster lane: est = n_match/64 ≥ 0.8, the
#: Jaccard target itself, not the pair lane's 0.75 reporting margin —
#: transitive closure amplifies permissiveness (one sub-threshold edge
#: glues two whole clusters; dedup_cluster_recall_eval measured pair
#: precision 0.18 with 0.75 edges vs 0.849 at 0.8).
_CLOSURE_MIN_MATCH = 52  # ceil(0.8 · _N_HASHES)

#: Hot-bucket split of the cluster lane: a (band, bucket) with n members
#: is cut into ceil(n / _BUCKET_BLOCK) blocks, and each (i ≤ j) block
#: pair is its own shuffle key, so no key holds more than _BUCKET_BLOCK²
#: pairs and a hot bucket's keys spread over the tasks (a dup-dense
#: family collides in all 8 bands). Sized as a task granule: a
#: 1024 × 1024 key of unrelated signatures scores in ~0.27 s on one core
#: (4-vCPU VM); 256 made ~17 ms keys whose member replication cost more
#: than it spread (dedup_minhash_cluster +0.55 s on a 5 000-doc corpus
#: with 611-913-doc buckets, +1.5 s on the 10× dup-dense corpus).
_BUCKET_BLOCK = 1024

#: Signature pairs compared per numpy step inside a task (bounds the
#: gathered (pairs × 64) int32 temporaries to a few MB).
_PAIR_CHUNK = 1 << 15


def _score_buckets(batches):
    """mapInArrow body of the cluster lane. Rows are bucket members
    keyed (band, bucket, bi, bj) with their block ``blk`` and int64[64]
    ``sig``. Scores the in-block pairs of the task's keys — all pairs of
    a diagonal key (bi == bj), block-bi × block-bj pairs otherwise —
    and unions those with ≥ _CLOSURE_MIN_MATCH matching slots into a
    task-local star forest, which is all it yields, as (src, dst). A
    pair whose ends the forest already connects is not scored: its edge
    could not change the components."""
    import numpy as np
    import pyarrow as pa

    from .matching import _link

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    band, bucket, bi, bj, blk, rep = (
        tbl.column(c).to_numpy() for c in ("band", "bucket", "bi", "bj", "blk", "rep_id")
    )
    order = np.lexsort((blk, bj, bi, bucket, band))
    band, bucket, bi, bj, blk, rep = (x[order] for x in (band, bucket, bi, bj, blk, rep))
    sig = (
        tbl.column("sig").combine_chunks().flatten().to_numpy()
        .reshape(-1, _N_HASHES)[order]
        .astype(np.int32)  # minima < 2^31 - 1
    )
    n = rep.size
    pos = np.arange(n)

    def run_ends(*keys):
        # for every row, the end index of its run of equal keys
        new = np.zeros(n, bool)
        new[0] = True
        for k in keys:
            new[1:] |= k[1:] != k[:-1]
        starts = np.flatnonzero(new)
        return np.append(starts[1:], n)[np.cumsum(new) - 1]

    # a cross key (bi < bj) holds block bi, then block bj (sorted by
    # blk): block-bi rows pair with the block-bj rows, block-bj rows
    # with nothing; a diagonal key pairs every row with the later rows
    first = np.where(bi == bj, pos + 1, run_ends(band, bucket, bi, bj, blk))
    cnt = run_ends(band, bucket, bi, bj) - first
    cum = np.cumsum(cnt)
    ids, node = np.unique(rep, return_inverse=True)
    comp = np.arange(ids.size)
    lo = 0
    while lo < n:
        hi = max(int(np.searchsorted(cum, cum[lo] - cnt[lo] + _PAIR_CHUNK, "right")), lo + 1)
        c = cnt[lo:hi]
        a = np.repeat(pos[lo:hi], c)
        b = np.repeat(first[lo:hi], c) + np.arange(a.size) - np.repeat(np.cumsum(c) - c, c)
        live = comp[node[a]] != comp[node[b]]
        a, b = a[live], b[live]
        ok = (sig[a] == sig[b]).sum(axis=1) >= _CLOSURE_MIN_MATCH
        comp = _link(comp, node[a[ok]], node[b[ok]])
        lo = hi
    moved = comp != np.arange(ids.size)
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids[moved], pa.int64()), pa.array(ids[comp[moved]], pa.int64())],
        names=["src", "dst"],
    )


def _bucket_forest(spark: SparkSession, sigs: DataFrame) -> DataFrame:
    """Cluster-lane edge builder: the candidate pairs are exactly the
    pairs sharing a (band, bucket) in any band, as in the pair lane, but
    each bucket is verified where it lands. Band rows carry the 64-long
    signature; singleton buckets drop; a bucket larger than _BUCKET_BLOCK
    is cut into blocks and every member is replicated to the (i ≤ j)
    block-pair keys of its block; one repartition on the key puts each
    block pair in one task, and ``_score_buckets`` scores it with numpy
    and emits only the task's star forest of verified edges. No
    signature collect, broadcast, band self-join or pair-stream shuffle
    exists; what leaves a task is at most one row per node it saw."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    by_bucket = Window.partitionBy("band", "bucket").orderBy("rep_id")
    whole = by_bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    members = (
        sigs.select("rep_id", "sig", F.posexplode("bh").alias("band", "bucket"))
        .select(
            "*",
            F.count(F.lit(1)).over(whole).alias("n"),
            (F.row_number().over(by_bucket) - 1).alias("i"),
        )
        .filter(F.col("n") > 1)
    )
    n_blk = F.ceil(F.col("n") / F.lit(_BUCKET_BLOCK))
    keyed = members.select(
        "rep_id",
        "sig",
        "band",
        "bucket",
        (F.col("i") % n_blk).alias("blk"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_blk - 1)).alias("k"),
    ).select(
        "rep_id",
        "sig",
        "band",
        "bucket",
        "blk",
        F.least("blk", "k").alias("bi"),
        F.greatest("blk", "k").alias("bj"),
    )
    # numbered, so AQE cannot coalesce the scoring stage into one task
    return keyed.repartition(n_parts, "band", "bucket", "bi", "bj").mapInArrow(
        _score_buckets, "src bigint, dst bigint"
    )


@query("dedup_minhash_cluster")  # rows-only: minhash signatures are hash-impl-specific
def dedup_minhash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-form MinHash dedup — the swap for when pair enumeration
    itself is the bottleneck (dup-dense corpora have quadratically many
    near-dup PAIRS, but only linearly many docs). The output is ONE row
    per fingerprint representative — (rep, cluster id, exact-dup member
    count, keeper flag), keeper = min doc_id of the cluster: the
    doc→keeper mapping a production dedup writes at 100 TB, never the
    pair list.

    Plan: one cached fingerprint groupBy (``_fingerprint_groups``) feeds
    the shared signature/band-hash stage (``_signatures``), the node list
    and the member counts. Edges come from ``_bucket_forest``: each LSH
    bucket is scored where it lands and every task emits only the star
    forest of its verified pairs, so connected components
    (``connected_components_twostar``, large-star/small-star) iterate over
    at most partitions × nodes edges instead of the scored pair stream.

    Exactness against the pair lane: the candidate set is the same (pairs
    sharing a bucket in any band), the edge test is the same (est =
    n_match/64 ≥ 0.8, see _CLOSURE_MIN_MATCH), and neither duplicate
    edges nor scoring order can change a union-find — so the components
    equal those of dedup_minhash_lsh's est ≥ 0.8 pairs (pinned by
    tests/test_units_round4b.py, with and without block splitting)."""
    from .matching import connected_components_twostar

    groups = _fingerprint_groups(t(spark, sf_dir, "documents")).cache()
    labels, _ = connected_components_twostar(
        groups.select(F.col("rep_id").alias("node")),
        _bucket_forest(spark, _signatures(groups)),
    )
    return (
        labels.join(groups, labels.node == groups.rep_id)
        .select(
            F.col("rep_id"),
            F.col("comp").alias("cluster_id"),
            F.col("n_members"),
            (F.col("rep_id") == F.col("comp")).alias("is_keeper"),
        )
    )
