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
  O(corpus) signature computation + bucket-local scoring: each LSH
  (band, bucket) is verified inside one task, and a hot bucket is cut
  into blocks so no shuffle key holds more than _BUCKET_BLOCK² pairs.
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
#: table may NOT broadcast unconditionally. A (term, df) row is ~40 B in
#: the broadcast hash table, so 2M terms ≈ 80 MB — comfortably under executor
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
    # measured-gate count below and the scoring join share one pass
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
       skipping this stage makes LSH buckets quadratic in duplicate
       cluster size (measured: one 248-doc identical group at sf0.1
       dominated the whole runtime).
    2. **MinHash-LSH on representatives**: 64 explicit (a·x+b) mod p
       permutations over xxhash64 token hashes → 8 bands × 8 rows →
       candidate pairs are the pairs sharing a (band, bucket) → similarity
       estimated from the fraction of matching signature slots
       (E[match] = Jaccard), kept at est ≥ 0.75 for the 0.8 target.

    Stage 2 is bucket-local (``_bucket_members`` + ``_score_pairs``):
    band rows carry the 64-long signature and the 8 band hashes, each
    (band, bucket) — or each block pair of a bucket larger than
    _BUCKET_BLOCK — lands in one task, and that task scores its pairs
    with numpy. A pair colliding in several bands is kept only in the
    first band where its band hashes match, so each candidate is scored
    and emitted once with no pair-stream distinct, join or shuffle. The
    only corpus-scale shuffle is the stage-1 fingerprint groupBy; the
    scoring never re-touches the corpus text (a token-level verify join
    re-shuffles the corpus — measured 2× slower here). Exact Jaccard
    lives in dedup_near_jaccard; this is the approximate lane.

    The lane is OUTPUT-bound on dup-dense corpora — 10× data with
    10-replica families means ~100× true near-dup pairs (0.8M → 79.5M
    measured) — so wall grows with output, not corpus. When the pair
    list itself is too big, the swap is cluster-form output
    (dedup_minhash_cluster: one row per representative). Returns
    candidate representative pairs (doc_a < doc_b) with estimated
    similarity and member counts (pair expansion to raw doc ids is a
    join against stage 1)."""
    sigs = _signatures(_fingerprint_groups(t(spark, sf_dir, "documents")))
    pairs = _bucket_members(spark, sigs, ("rep_id", "sig", "bh", "n_members")).mapInArrow(
        _score_pairs,
        "doc_a bigint, doc_b bigint, n_match bigint, n_members_a bigint, n_members_b bigint",
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        r6(F.col("n_match").cast("double") / F.lit(float(_N_HASHES))).alias("est_jaccard"),
        "n_members_a",
        "n_members_b",
    )


def _fingerprint_groups(docs: DataFrame) -> DataFrame:
    """Stage 1 of the MinHash lanes: exact collapse by canonical
    token-set fingerprint → (fp, rep_id, n_members), one row per
    DISTINCT content."""
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
    minima and the 8 band hashes every MinHash lane over fingerprint
    groups starts from. Empty-token docs (empty th array) drop out."""
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


#: Report threshold of the pair lane: est = n_match/64 ≥ 0.75, the
#: margin under the 0.8 Jaccard target that signature noise needs.
_REPORT_MIN_MATCH = 48  # 0.75 · _N_HASHES

#: Closure edge test of the cluster lane: est = n_match/64 ≥ 0.8, the
#: Jaccard target itself, not the pair lane's 0.75 reporting margin —
#: transitive closure amplifies permissiveness (one sub-threshold edge
#: glues two whole clusters; dedup_cluster_recall_eval measured pair
#: precision 0.18 with 0.75 edges vs 0.849 at 0.8).
_CLOSURE_MIN_MATCH = 52  # ceil(0.8 · _N_HASHES)

#: Hot-bucket split of the bucket-local scorers: a (band, bucket) with n
#: members is cut into ceil(n / _BUCKET_BLOCK) blocks and each block
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


def _bucket_pairs(batches, keys):
    """Pair enumerator shared by the bucket-local scorers' ``mapInArrow``
    bodies. ``batches`` are one task's bucket members: the shuffle-key
    columns ``keys``, a block tag ``blk``, ``rep_id`` and the list column
    ``sig`` (plus whatever else the lane carries). Returns None for a
    task without rows, else ``(cols, pairs)``: ``cols`` the members as
    numpy columns sorted by (*keys, blk), list columns as (rows × width)
    matrices (``sig`` as int32 — minima < 2^31 - 1), and ``pairs`` a
    generator of (a, b) row-index chunks of about _PAIR_CHUNK pairs. A
    diagonal key (``bi == bj``) pairs all of its rows; any other key
    pairs the rows of its first block with the rows of its second."""
    import numpy as np
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    tbl = pa.Table.from_batches(batches)
    n = tbl.num_rows
    cols = {}
    for name in tbl.column_names:
        col = tbl.column(name).combine_chunks()
        if pa.types.is_list(col.type):
            col = col.flatten().to_numpy(zero_copy_only=False).reshape(n, -1)
        else:
            col = col.to_numpy(zero_copy_only=False)
        cols[name] = col
    order = np.lexsort([cols[k] for k in ("blk", *keys[::-1])])
    cols = {name: col[order] for name, col in cols.items()}
    cols["sig"] = cols["sig"].astype(np.int32)
    pos = np.arange(n)

    def run_ends(*runs):
        # for every row, the end index of its run of equal values
        new = np.zeros(n, bool)
        new[0] = True
        for k in runs:
            new[1:] |= k[1:] != k[:-1]
        starts = np.flatnonzero(new)
        return np.append(starts[1:], n)[np.cumsum(new) - 1]

    key = [cols[k] for k in keys]
    diag = cols["bi"] == cols["bj"] if "bi" in cols else np.zeros(n, bool)
    # a cross key holds its first block, then its second (sorted by blk):
    # first-block rows pair with the second-block rows, second-block rows
    # with nothing; a diagonal key pairs every row with the later rows
    first = np.where(diag, pos + 1, run_ends(*key, cols["blk"]))
    cnt = run_ends(*key) - first
    cum = np.cumsum(cnt)

    def pairs():
        lo = 0
        while lo < n:
            hi = max(int(np.searchsorted(cum, cum[lo] - cnt[lo] + _PAIR_CHUNK, "right")), lo + 1)
            c = cnt[lo:hi]
            a = np.repeat(pos[lo:hi], c)
            yield a, np.repeat(first[lo:hi], c) + np.arange(a.size) - np.repeat(np.cumsum(c) - c, c)
            lo = hi

    return cols, pairs()


def _first_band_matches(cols, pairs):
    """(a, b, n_match) per chunk of ``pairs``, keeping only the pairs
    whose first matching band hash is in this key's band, so a pair that
    collides in several bands is scored and kept once."""
    bh, sig, band = cols["bh"], cols["sig"], cols["band"]
    for a, b in pairs:
        keep = (bh[a] == bh[b]).argmax(axis=1) == band[a]
        a, b = a[keep], b[keep]
        yield a, b, (sig[a] == sig[b]).sum(axis=1)


def _bands():
    """(band, bucket) rows of the 8-long ``bh``. The outer form on
    purpose: ``bh`` is never null or empty, and a plain posexplode makes
    Catalyst infer a ``size(bh) > 0`` filter that it pushes below the
    fingerprint groupBy, running the signature UDF once per raw document
    on top of once per representative."""
    return F.posexplode_outer("bh").alias("band", "bucket")


def _bucket_members(spark: SparkSession, sigs: DataFrame, carry) -> DataFrame:
    """Bucket members of ``sigs`` (which has ``bh``) keyed for the
    bucket-local scorers: one row per (member, band) carrying the
    ``carry`` columns, singleton buckets dropped, and a bucket larger
    than _BUCKET_BLOCK cut into blocks with every member replicated to
    the (bi ≤ bj) block-pair keys of its block ``blk``. Repartitioned on
    (band, bucket, bi, bj), so each block pair is scored in one task."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    by_bucket = Window.partitionBy("band", "bucket").orderBy("rep_id")
    whole = by_bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    members = (
        sigs.select(*carry, _bands())
        .select(
            "*",
            F.count(F.lit(1)).over(whole).alias("n"),
            (F.row_number().over(by_bucket) - 1).alias("i"),
        )
        .filter(F.col("n") > 1)
    )
    n_blk = F.ceil(F.col("n") / F.lit(_BUCKET_BLOCK))
    keyed = members.select(
        *carry,
        "band",
        "bucket",
        (F.col("i") % n_blk).alias("blk"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_blk - 1)).alias("k"),
    ).select(
        *carry,
        "band",
        "bucket",
        "blk",
        F.least("blk", "k").alias("bi"),
        F.greatest("blk", "k").alias("bj"),
    )
    # numbered, so AQE cannot coalesce the scoring stage into one task
    return keyed.repartition(n_parts, "band", "bucket", "bi", "bj")


def _score_pairs(batches):
    """mapInArrow body of dedup_minhash_lsh: every first-band pair of the
    task's keys with ≥ _REPORT_MIN_MATCH matching slots, as (doc_a <
    doc_b, n_match, n_members_a, n_members_b)."""
    import numpy as np
    import pyarrow as pa

    members = _bucket_pairs(batches, ("band", "bucket", "bi", "bj"))
    if members is None:
        return
    cols, pairs = members
    rep, nm = cols["rep_id"], cols["n_members"]
    for a, b, n_match in _first_band_matches(cols, pairs):
        ok = n_match >= _REPORT_MIN_MATCH
        if not ok.any():
            continue
        a, b = a[ok], b[ok]
        swap = rep[a] > rep[b]
        lo, hi = np.where(swap, b, a), np.where(swap, a, b)
        yield pa.RecordBatch.from_arrays(
            [pa.array(x, pa.int64()) for x in (rep[lo], rep[hi], n_match[ok], nm[lo], nm[hi])],
            names=["doc_a", "doc_b", "n_match", "n_members_a", "n_members_b"],
        )


def _score_store_pairs(batches):
    """mapInArrow body of dedup_minhash_incremental: scores every
    first-band (batch member, store member) pair of the task's keys and
    yields each batch member's best store match in this task, as
    (batch_id, corpus_id, n_match) — most matching slots, then the
    smallest corpus_id, the order of the lane's best-match window, so
    the window over the tasks' bests picks what it would over all pairs."""
    import numpy as np
    import pyarrow as pa

    members = _bucket_pairs(batches, ("band", "bucket", "sblk"))
    if members is None:
        return
    cols, pairs = members
    rep = cols["rep_id"]
    best = [np.empty(0, np.int64)] * 3
    for a, b, n_match in _first_band_matches(cols, pairs):
        bid, cid, nm = (np.concatenate(x) for x in zip(best, (rep[a], rep[b], n_match)))
        order = np.lexsort((cid, -nm, bid))
        keep = order[np.unique(bid[order], return_index=True)[1]]
        best = [bid[keep], cid[keep], nm[keep]]
    yield pa.RecordBatch.from_arrays(
        [pa.array(x, pa.int64()) for x in best], names=["batch_id", "corpus_id", "n_match"]
    )


@query("dedup_minhash_incremental")  # rows-only: minhash signatures are hash-impl-specific
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH — dedup_minhash_lsh's batch-vs-store form,
    the one production runs daily at 100 TB: the EXISTING corpus (even
    doc_ids) exists only as its persisted signature store (rep_id,
    n_members, 64 minima, 8 band hashes — kilobytes per thousand docs,
    written once); the NEW batch (odd doc_ids) computes signatures for
    ITS docs only. The corpus TEXT is never re-read, re-tokenized, or
    re-hashed — per-day cost scales with the batch, not the corpus,
    which is the whole point (dedup_incremental_exact is the
    exact-duplicate analogue; this is the near-dup one).

    Scoring is the pair lane's bucket-local design keyed on (band,
    bucket, store block): a bucket's store members are cut into blocks
    of at most _BUCKET_BLOCK, and each batch member of the bucket is
    replicated to every store block, so a hot store bucket spreads over
    tasks and only batch × store pairs are ever enumerated. Each pair is
    scored once, in its first matching band, and a task yields only each
    batch member's best match among its pairs. Per batch rep: best store
    match, estimated Jaccard, near-dup verdict at the 0.75 signature
    threshold. Rows-only lane (xxhash64-specific signatures); end-to-end
    behavior pinned in tests/test_iterative_pins.py on a planted
    near-dup/disjoint fixture and by digest in tests/test_dedup_pins.py."""
    from .sources import _scratch

    docs = t(spark, sf_dir, "documents")
    # ---- store build (the once-per-corpus step; daily runs only READ it)
    store_path = _scratch(sf_dir, "minhash_store")
    _signatures(_fingerprint_groups(docs.filter(F.col("doc_id") % 2 == 0))).write.mode(
        "overwrite"
    ).parquet(store_path)
    store = spark.read.parquet(store_path)
    # ---- daily batch: signatures for batch docs only
    batch = _signatures(_fingerprint_groups(docs.filter(F.col("doc_id") % 2 == 1)))

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # blk tags the side (0 batch, 1 store): batch rows sort first in a key
    by_bucket = Window.partitionBy("band", "bucket").orderBy("blk", "rep_id")
    whole = by_bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    members = (
        batch.select("rep_id", "sig", "bh", F.lit(0).alias("blk"))
        .unionByName(store.select("rep_id", "sig", "bh", F.lit(1).alias("blk")))
        .select("*", _bands())
        .select(
            "*",
            F.sum("blk").over(whole).alias("n_store"),
            F.count(F.lit(1)).over(whole).alias("n"),
            (F.row_number().over(by_bucket) - 1).alias("i"),
        )
        .filter((F.col("n_store") > 0) & (F.col("n_store") < F.col("n")))
    )
    n_sblk = F.ceil(F.col("n_store") / F.lit(_BUCKET_BLOCK))
    store_blk = (F.col("i") - (F.col("n") - F.col("n_store"))) % n_sblk
    keyed = members.select(
        "rep_id",
        "sig",
        "bh",
        "band",
        "bucket",
        "blk",
        F.explode(
            F.when(F.col("blk") == 1, F.array(store_blk)).otherwise(
                F.sequence(F.lit(0).cast("long"), n_sblk - 1)
            )
        ).alias("sblk"),
    )
    est = (
        keyed.repartition(n_parts, "band", "bucket", "sblk")
        .mapInArrow(_score_store_pairs, "batch_id bigint, corpus_id bigint, n_match bigint")
        .select("batch_id", "corpus_id", (F.col("n_match") / F.lit(64.0)).alias("est_jaccard"))
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
    # deterministic 1-in-5 representative sample: the exact GT side is
    # quadratic BY DESIGN (it is the thing approximate dedup replaces),
    # so the eval runs on a fixed sample — pair counts shrink ~25x and
    # the recall/precision estimates are unbiased for within-sample
    # pairs, which is how this harness is meant to be run at any scale
    groups = _fingerprint_groups(t(spark, sf_dir, "documents")).where(
        F.col("rep_id") % 5 == 0
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


def _score_buckets(batches):
    """mapInArrow body of the cluster lane: unions the task's in-key
    pairs with ≥ _CLOSURE_MIN_MATCH matching slots into a task-local star
    forest, which is all it yields, as (src, dst). A pair whose ends the
    forest already connects is not scored: its edge could not change the
    components."""
    import numpy as np
    import pyarrow as pa

    from .matching import _link

    members = _bucket_pairs(batches, ("band", "bucket", "bi", "bj"))
    if members is None:
        return
    cols, pairs = members
    sig = cols["sig"]
    ids, node = np.unique(cols["rep_id"], return_inverse=True)
    comp = np.arange(ids.size)
    for a, b in pairs:
        live = comp[node[a]] != comp[node[b]]
        a, b = a[live], b[live]
        ok = (sig[a] == sig[b]).sum(axis=1) >= _CLOSURE_MIN_MATCH
        comp = _link(comp, node[a[ok]], node[b[ok]])
    moved = comp != np.arange(ids.size)
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids[moved], pa.int64()), pa.array(ids[comp[moved]], pa.int64())],
        names=["src", "dst"],
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
    and the member counts. Edges come from the pair lane's bucket-local
    scoring (``_bucket_members``) with its own consumer
    (``_score_buckets``): every task emits only the star forest of its
    verified pairs, so connected components
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
    edges = _bucket_members(spark, _signatures(groups), ("rep_id", "sig")).mapInArrow(
        _score_buckets, "src bigint, dst bigint"
    )
    labels, _ = connected_components_twostar(
        groups.select(F.col("rep_id").alias("node")), edges
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
