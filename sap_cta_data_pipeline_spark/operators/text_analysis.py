"""§2-J addendum (round 1): the remaining first-class
training-data-pipeline text operators from the north-star mandate —
language ID, quality scoring, BPE-ish regex tokenization, rolling-hash
fingerprinting, SimHash near-dup, embedding-cosine near-dup.

All JVM-side; the two hash-dependent ops (SimHash) ride the rows-only
lane, everything else carries a full DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table as t
from ..functions.parity import bi, r6
from ..registry import query
from .text import _tokens

_HASH_M = 2147483647  # 2^31-1, the rolling-hash modulus
_KNUTH = 2654435761  # Knuth multiplicative-hash constant (2^32 / φ)


@query(
    "text_lang_id",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tok_f AS (
      SELECT * FROM tok WHERE term != ''
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok_f GROUP BY doc_id, term
    ), cnt AS (
      SELECT lang, term, count(*) AS c FROM tok_f GROUP BY lang, term
    ), tot AS (
      SELECT lang, count(*) AS n FROM tok_f GROUP BY lang
    ), vocab AS (
      SELECT count(DISTINCT term) AS v FROM tok_f
    ), scored AS (
      SELECT tf.doc_id, l.lang AS cand_lang,
             round(sum(tf.tf * ln((coalesce(c.c, 0) + 1.0) / (tot.n + vocab.v))), 6) AS score
      FROM tf
      CROSS JOIN (SELECT DISTINCT lang FROM documents) l
      LEFT JOIN cnt c ON c.term = tf.term AND c.lang = l.lang
      JOIN tot ON tot.lang = l.lang
      CROSS JOIN vocab
      GROUP BY tf.doc_id, l.lang
    ), ranked AS (
      SELECT doc_id, cand_lang, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang ASC) AS rn
      FROM scored
    )
    SELECT r.doc_id, r.cand_lang AS predicted_lang, r.score AS best_score,
           d.lang AS actual_lang,
           CAST(CASE WHEN r.cand_lang = d.lang THEN 1 ELSE 0 END AS BIGINT) AS is_correct
    FROM ranked r JOIN documents d USING (doc_id)
    WHERE rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via a corpus-fit Naive-Bayes unigram model
    (Laplace smoothing): per-language token profiles → per-doc
    log-likelihood → argmax (rounded score + lang tiebreak for
    cross-engine-deterministic ranking).

    Shuffle contract (round 3): per-doc term frequencies aggregate FIRST
    (one corpus shuffle keyed (doc, term)); each distinct (doc, term) row
    then feeds |langs| per-language score COLUMNS inside ONE doc-keyed
    aggregation, and the argmax is an in-row array_sort — no |langs|× row
    expansion, no crossJoin, no per-doc rank window (round 2 expanded
    distinct-terms ×|langs| and windowed; round 1 expanded raw token
    occurrences). The language list/totals/vocab size are a bounded
    dimension-grain discovery collect (|langs|+1 scalars). The per-term profile map
    (term → {lang: count}) is vocab-sized — UNBOUNDED cardinality by
    Heaps' law — so its join is gated on the vocab size ``v`` the lane
    already measures (round-8 sweep, SCALE.md S17): broadcast under the
    shared ceiling, keyed shuffle_hash above it."""
    docs = t(spark, sf_dir, "documents")
    tok = _tokens(docs)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # per-term profile: one row per vocab term mapping lang → count
    cnt = (
        tok.groupBy("term", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("term")
        .agg(F.map_from_entries(F.collect_list(F.struct("lang", "c"))).alias("cmap"))
    )
    # bounded discovery: |langs| totals + vocab size — scalars, not data
    # (the same documented dimension-grain collect class as
    # agg_pivot_dynamic's pivot-value discovery)
    n_by_lang = {
        row["lang"]: row["n"]
        for row in tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    v = tok.select("term").distinct().count()
    langs = sorted(n_by_lang)

    def lang_score(lang: str):
        return r6(
            F.sum(
                F.col("tf")
                * F.log(
                    (F.coalesce(F.element_at("cmap", F.lit(lang)), F.lit(0)) + 1.0)
                    / F.lit(float(n_by_lang[lang] + v))
                )
            )
        )

    # |langs| score COLUMNS in ONE doc-keyed agg (round 3) — no |langs|×
    # row expansion, no crossJoin, no per-doc rank window (round 2
    # expanded distinct (doc, term) rows ×|langs| and windowed; round 1
    # expanded raw token occurrences). Argmax is an in-row array_sort of
    # (−score, lang) structs — same (score desc, lang asc) tiebreak.
    # vocab gate: v is already measured above — no extra job
    from .text import _TFIDF_VOCAB_BROADCAST_MAX

    cnt_side = (
        F.broadcast(cnt) if v <= _TFIDF_VOCAB_BROADCAST_MAX else cnt.hint("shuffle_hash")
    )
    scored = (
        tf.join(cnt_side, "term")
        .groupBy("doc_id")
        .agg(*[lang_score(lang).alias(f"s_{i}") for i, lang in enumerate(langs)])
    )
    ranked = F.array_sort(
        F.array(
            *[
                F.struct((-F.col(f"s_{i}")).alias("neg"), F.lit(lang).alias("lg"))
                for i, lang in enumerate(langs)
            ]
        )
    )
    best = scored.select(
        "doc_id",
        F.element_at(ranked, 1)["lg"].alias("predicted_lang"),
        (-F.element_at(ranked, 1)["neg"]).alias("best_score"),
    )
    return best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "predicted_lang",
        "best_score",
        F.col("lang").alias("actual_lang"),
        bi(F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0)).alias(
            "is_correct"
        ),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tok_f AS (
      SELECT * FROM tok WHERE term != ''
    ), stops AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rn
        FROM tok_f GROUP BY term
      ) WHERE rn <= 5
    ), per_doc AS (
      SELECT t.doc_id,
             count(*)                                    AS n_tokens,
             count(DISTINCT t.term)                      AS n_distinct,
             sum(CASE WHEN s.term IS NOT NULL THEN 1 ELSE 0 END) AS n_stop,
             avg(length(t.term))                         AS avg_tok_len
      FROM tok_f t LEFT JOIN stops s ON t.term = s.term
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 6)          AS stop_ratio,
           round(CAST(n_distinct AS DOUBLE) / n_tokens, 6)      AS type_token_ratio,
           round(avg_tok_len, 6)                                AS avg_tok_len,
           round(0.4 * (1 - CAST(n_stop AS DOUBLE) / n_tokens)
               + 0.3 * least(n_tokens / 50.0, 1.0)
               + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens), 6) AS quality
    FROM per_doc
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword ratio (stopwords = corpus
    top-5 terms, computed in-query), type-token ratio, length saturation,
    combined into one deterministic [0,1] score — the pre-training
    corpus-filtering shape (length/stopword/diversity signals)."""
    docs = t(spark, sf_dir, "documents")
    tok = _tokens(docs).select("doc_id", "term")
    # top-5 via orderBy+limit = TakeOrderedAndProject (per-partition heaps
    # + driver merge), not a vocab-wide single-partition rank window
    stops = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(5)
        .select(F.col("term").alias("stop_term"))
    )
    per_doc = (
        tok.join(F.broadcast(stops), tok.term == stops.stop_term, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("term").alias("n_distinct"),
            bi(F.sum(F.when(F.col("stop_term").isNotNull(), 1).otherwise(0))).alias("n_stop"),
            F.avg(F.length("term")).alias("avg_len_raw"),
        )
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        r6(stop_ratio).alias("stop_ratio"),
        r6(ttr).alias("type_token_ratio"),
        r6(F.col("avg_len_raw")).alias("avg_tok_len"),
        r6(
            0.4 * (1 - stop_ratio)
            + 0.3 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
            + 0.3 * ttr
        ).alias("quality"),
    )


@query(
    "text_token_bpe_regex",
    oracle="""
    SELECT
      doc_id,
      CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
      CAST(list_max(list_transform(
        regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+'), x -> length(x))) AS BIGINT) AS max_piece_len
    FROM documents
    """,
)
def text_token_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs a BPE-ish pretokenizer
    regex (letter runs | digit runs | symbol runs — the RE2-safe core of
    GPT-2-style pretokenization). On this punctuation-free corpus the
    counts coincide, which the oracle verifies; the machinery is what
    ships."""
    docs = t(spark, sf_dir, "documents")
    pat = "[a-z]+|[0-9]+|[^a-z0-9 ]+"
    pieces = F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    return docs.select(
        "doc_id",
        bi(F.size(F.filter(F.split("text", " "), lambda x: x != ""))).alias("n_ws_tokens"),
        bi(F.size(pieces)).alias("n_bpe_tokens"),
        bi(F.array_max(F.transform(pieces, F.length))).alias("max_piece_len"),
    )


@query(
    "text_fingerprint_rolling",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(text, ' '), x -> x != ''),
                                t -> CAST(length(t) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % {_HASH_M}) AS fingerprint,
             CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, fingerprint, n_tokens,
           count(*) OVER (PARTITION BY fingerprint) AS n_same_fp
    FROM fp
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via an order-sensitive rolling hash
    (Karp–Rabin fold acc·31+x mod 2³¹−1) over the token-length sequence —
    engine-portable by construction (pure integer fold; both engines fold
    left-to-right), unlike engine hash() functions (SURVEY.md §5.3). The
    windowed count surfaces fingerprint collisions (structural dup
    candidates)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    fp = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + x, F.lit(_HASH_M).cast("long")),
    )
    out = docs.select(
        "doc_id", fp.alias("fingerprint"), bi(F.size(toks)).alias("n_tokens")
    )
    w = Window.partitionBy("fingerprint")
    return out.withColumn("n_same_fp", F.count(F.lit(1)).over(w))


@query(
    "split_train_test",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             ((doc_id * {_KNUTH}) % 4294967296) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by multiplicative
    hash of the stable document id — the training-data-pipeline split
    primitive. Engine-portable by construction (pure 64-bit integer
    arithmetic, no engine hash()), so membership is reproducible across
    engines, runs, and cluster topologies; new documents never reshuffle
    existing assignments. Shuffle-free (a projection)."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.pmod(F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(4294967296)), F.lit(100))
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@query(
    "dedup_near_embedding",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
                 / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
          / (a.nrm * b.nrm) >= 0.35
    """,
)
def dedup_near_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, blocked by label (the semantic
    analogue of lang-blocking in dedup_near_jaccard). Round 3: the
    within-block pair computation is an Arrow-batched ``applyInPandas``
    BLAS matrix multiply (chunked rows × blockᵀ, float64) instead of the
    round-2 JVM self-join with a per-pair ``zip_with`` fold — exact same
    pair set and values, ~10× less work, and the plan has NO self-join:
    one shuffle (groupBy label), then embarrassingly parallel blocks.
    This is the FAISS-shaped layout: at 100 TB the block key becomes an
    IVF cell id (sim_ann_ivf's broadcast-centroid in-row argmin) and the
    same chunked-GEMM kernel runs within each cell; row-chunking (2048)
    bounds UDF memory at |chunk|×|block| regardless of block skew."""
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        label = pdf["label"].iloc[0]
        nrm = np.sqrt((M * M).sum(axis=1))
        out: list[pd.DataFrame] = []
        step = 2048
        for s in range(0, len(M), step):
            G = (M[s : s + step] @ M.T) / (nrm[s : s + step, None] * nrm[None, :])
            ai, bj = np.nonzero(G >= 0.35)
            ai_g = ai + s
            keep = ids[ai_g] < ids[bj]
            if keep.any():
                out.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[ai_g[keep]],
                            "vec_b": ids[bj[keep]],
                            "label": label,
                            "cos_sim": np.round(G[ai[keep], bj[keep]], 6),
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64"),
                 "label": pd.Series(dtype="int32"), "cos_sim": pd.Series(dtype="float64")}
            )
        return pd.concat(out, ignore_index=True)

    return e.groupBy("label").applyInPandas(
        _block_pairs, "vec_a bigint, vec_b bigint, label int, cos_sim double"
    )


_SIMHASH_BITS = 32
_SIM_BANDS = 4
_SIM_BAND_BITS = 8

_UDF_CACHE: dict = {}


def _simhash_sig_udf():
    """32-bit simhash from the token-hash array, vectorized: built lazily
    (pandas_udf registration needs an active session) and memoized."""
    if "simhash_sig" not in _UDF_CACHE:

        @F.pandas_udf("long")
        def sig_udf(th: pd.Series) -> pd.Series:
            import numpy as np

            bits = np.arange(_SIMHASH_BITS, dtype=np.int64)
            out = []
            for h in th:
                hh = np.asarray(h, dtype=np.int64)
                w = (((hh[:, None] >> bits[None, :]) & 1) * 2 - 1).sum(axis=0)
                out.append(int(((w > 0).astype(np.int64) << bits).sum()))
            return pd.Series(out)

        _UDF_CACHE["simhash_sig"] = sig_udf
    return _UDF_CACHE["simhash_sig"]


_SIMHASH_PLANTED_ID_BASE = 9_000_000


def planted_documents_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per scratch lifetime) a documents corpus with a
    KNOWN near-duplicate structure for the simhash pin: the organic
    corpus plus, for every probe (doc_id < 10), 3 copies each appending
    ONE unique synthetic token (``plantedtok<probe>x<j>``). One extra
    token shifts every bit weight by ±1, so a plant's signature sits a
    FEW Hamming bits from its probe (≈2 expected at ~50 distinct
    tokens) — the regime the 4×8-bit banding must recover perfectly
    (pigeonhole: ≤3 flipped bits leave ≥1 band identical). Deterministic
    pure-column ops, no RNG (the planted_embeddings_dir pattern,
    similarity.py). Returns a dir usable as sf_dir by any lane reading
    only `documents`."""
    import os

    from .sources import _scratch

    base = _scratch(sf_dir, "simhash_planted")
    out = os.path.join(base, "documents.parquet")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        docs = t(spark, sf_dir, "documents")
        plants = (
            docs.filter(F.col("doc_id") < 10)
            .select(
                "*", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j")
            )
            .select(
                (
                    F.lit(_SIMHASH_PLANTED_ID_BASE)
                    + F.col("doc_id") * 100
                    + F.col("j")
                ).alias("doc_id"),
                F.concat(
                    F.col("text"),
                    F.lit(" plantedtok"),
                    F.col("doc_id").cast("string"),
                    F.lit("x"),
                    F.col("j").cast("string"),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        docs.unionByName(plants).coalesce(1).write.mode("overwrite").parquet(out)
    return base


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rep_id, simhash) for every distinct-fingerprint representative —
    the shared signature pass under dedup_simhash AND its planted-recall
    pin (tests/test_simhash_planted.py verifies the banded join recovers
    EVERY brute-force Hamming≤3 pair over these signatures — the 4×8-bit
    pigeonhole completeness property).

    The 32 bit-weight folds are ONE Arrow-batched pandas_udf (round 3,
    same move as dedup_minhash_lsh's signature pass): per doc,
    weight_j = Σ_tokens (bit_j(h)·2 − 1), bit set iff weight > 0 —
    identical int64 arithmetic to the interpreted HOF fold it replaces
    (numpy >> is arithmetic like Spark's shiftright), vectorized over
    the (tokens × 32) bit matrix instead of 32·t lambda evaluations."""
    docs = t(spark, sf_dir, "documents")
    fingerprint = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.filter(F.split("text", " "), lambda x: x != "")))
    )
    groups = (
        docs.select("doc_id", fingerprint.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_members"))
    )
    th_arr = F.transform(
        F.filter(F.split("fp", " "), lambda x: x != ""), lambda tk: F.xxhash64(tk)
    )
    return (
        groups.select("rep_id", th_arr.alias("th"))
        .filter(F.size("th") > 0)
        .select("rep_id", _simhash_sig_udf()(F.col("th")).alias("simhash"))
    )


@query("dedup_simhash")  # rows-only: simhash bits derive from engine xxhash64
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: per-document 32-bit signature from
    token-hash bits (tf ≡ 1 on the distinct-token fingerprint) → banded
    candidate join (4×8-bit bands, any matching band) → Hamming distance
    ≤ 3 verification via bit_count(xor). Like dedup_minhash_lsh, runs on
    exact-duplicate representatives so identical documents can't flood
    the band buckets.

    Shuffle contract (round 2): the only corpus-scale shuffle is the
    fingerprint groupBy. Bit weights are 32 in-row ``aggregate`` folds
    over the fingerprint's hashed-token array (no explode, no
    (rep, term) shuffle), and banding is one ``posexplode`` of a
    4-element band array — a single projection whose cost no longer
    depends on ``.cache()`` keeping 4 plan branches cheap. The one cache
    is the tiny per-distinct-doc signature table feeding both join sides
    and both signature lookups."""
    sigs = simhash_signatures(spark, sf_dir).cache()

    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * _SIM_BAND_BITS).bitwiseAND(F.lit(255))
            for b in range(_SIM_BANDS)
        ]
    )
    bands = sigs.select("rep_id", F.posexplode(band_arr).alias("band", "bucket"))
    left = bands.select(F.col("rep_id").alias("doc_a"), "band", "bucket")
    right = bands.select(F.col("rep_id").alias("doc_b"), "band", "bucket")
    raw_pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # score-then-distinct (same reasoning as dedup_minhash_lsh): Hamming
    # verification runs map-side in the band-join stage at full
    # parallelism; the distinct then deduplicates only surviving rows
    sa = sigs.select(F.col("rep_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sigs.select(F.col("rep_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # signature tables are CORPUS-scale (one slim row per distinct doc), so
    # the attach joins carry no hint: the session's autoBroadcastJoinThreshold
    # policy broadcasts them while they are small and shuffles them past it
    return (
        raw_pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", bi(hamming))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


@query(
    "text_ngram_freq",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), x -> x != '') AS l
      FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram, count(*) AS cnt
    FROM bg
    GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC
    LIMIT 50
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word-bigram frequency, top-50 with a pinned tie-break
    (count desc, bigram asc — LIMIT is only deterministic under a total
    order). Bigrams are built in-row from the token array (a JVM
    higher-order transform over adjacent positions — no self-join of the
    token stream on position, which would shuffle the corpus twice); the
    only shuffle is the combiner-friendly groupBy on a vocab²-bounded key
    space, and the top-50 is TakeOrderedAndProject (no global sort)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH bg AS (
      SELECT DISTINCT doc_id, lang, bigram
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
        FROM (SELECT doc_id, lang,
                     list_filter(string_split(text, ' '), x -> x != '') AS l
              FROM documents)
      )
    ), sizes AS (
      SELECT doc_id, count(*) AS n_bg FROM bg GROUP BY doc_id
    ), inter AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS cand_id, count(*) AS n_inter
      FROM bg p
      JOIN bg c ON p.lang = c.lang AND p.bigram = c.bigram
                AND c.doc_id != p.doc_id
      WHERE p.doc_id % 37 = 0
      GROUP BY p.doc_id, c.doc_id
    )
    SELECT probe_id, cand_id,
           round(CAST(n_inter AS DOUBLE) / (sp.n_bg + sc.n_bg - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sp ON sp.doc_id = probe_id
    JOIN sizes sc ON sc.doc_id = cand_id
    WHERE CAST(n_inter AS DOUBLE) / (sp.n_bg + sc.n_bg - n_inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (word-bigram) Jaccard near-duplicates for a deterministic
    probe subset (doc_id ≡ 0 mod 37) against the full corpus — the
    order-sensitive complement to dedup_near_jaccard's bag-of-tokens
    Jaccard (bigrams distinguish 'a b a' from 'b a b'; unigram sets do
    not). Pair generation is an inverted-index join on shared (lang,
    bigram) keys, so cost is Σ df_probe·df_corpus per bigram — linear in
    corpus size for a fixed probe set, never all-pairs. The probe-subset
    shape is the production one (dedup an incoming batch against the
    corpus); full-corpus dedup at scale goes through dedup_minhash_lsh."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = (
        docs.select("doc_id", "lang", F.explode(grams).alias("bigram"))
        .distinct()
    )
    sizes = bg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bg"))
    p = bg.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("probe_id"), "lang", "bigram"
    )
    c = bg.select(F.col("doc_id").alias("cand_id"), "lang", "bigram")
    inter = (
        p.join(c, ["lang", "bigram"])
        .filter(F.col("cand_id") != F.col("probe_id"))
        .groupBy("probe_id", "cand_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sp = sizes.select(F.col("doc_id").alias("probe_id"), F.col("n_bg").alias("n_p"))
    sc = sizes.select(F.col("doc_id").alias("cand_id"), F.col("n_bg").alias("n_c"))
    jac = F.col("n_inter").cast("double") / (F.col("n_p") + F.col("n_c") - F.col("n_inter"))
    return (
        # sizes tables are CORPUS-scale (one row per doc) — no forced
        # broadcast; AQE decides from measured stats (round-8 sweep, S17)
        inter.join(sp, "probe_id")
        .join(sc, "cand_id")
        .filter(jac >= 0.5)
        .select("probe_id", "cand_id", r6(jac).alias("jaccard"))
    )


@query(
    "text_lm_bigram_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x != '') AS l
      FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM toks
    ), cnt2 AS (
      SELECT lang, bigram, count(*) AS c2 FROM bg GROUP BY 1, 2
    ), cnt1 AS (
      SELECT lang, split_part(bigram, ' ', 1) AS w1, count(*) AS c1
      FROM bg GROUP BY 1, 2
    )
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(avg(ln(CAST(c2 AS DOUBLE) / c1)), 6) AS avg_logprob
    FROM bg b
    JOIN cnt2 ON cnt2.lang = b.lang AND cnt2.bigram = b.bigram
    JOIN cnt1 ON cnt1.lang = b.lang AND cnt1.w1 = split_part(b.bigram, ' ', 1)
    GROUP BY b.doc_id
    """,
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document — the
    perplexity-style quality signal training-data pipelines filter on:
    P(w2|w1) is the MLE conditional from the per-language corpus bigram
    stream, a doc's score the mean log-probability of its bigrams. Two
    corpus-derived count tables (bigram-vocab and unigram-vocab sized)
    join back onto the bigram stream — vocab tables broadcast when they
    fit, and both joins share the lang+token key locality. In-row bigram
    construction (no positional self-join of the token stream)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = docs.select("doc_id", "lang", F.explode(grams).alias("bigram")).withColumn(
        "w1", F.split(F.col("bigram"), " ")[0]
    )
    cnt2 = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("c2"))
    cnt1 = bg.groupBy("lang", "w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bg.join(cnt2, ["lang", "bigram"])
        .join(cnt1, ["lang", "w1"])
        .select(
            "doc_id",
            F.log(F.col("c2").cast("double") / F.col("c1")).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), r6(F.avg("lp")).alias("avg_logprob")
    )


@query(
    "text_collocations_pmi",
    oracle="""
    WITH l AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
      FROM documents
    ), uni AS (
      SELECT term, count(*) AS c_u
      FROM (SELECT unnest(l) AS term FROM l)
      GROUP BY term
    ), tot AS (
      SELECT sum(c_u) AS n_tok FROM uni
    ), bg AS (
      SELECT w1, w2, count(*) AS c_ab
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
                   unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
            FROM l)
      GROUP BY w1, w2
    ), btot AS (
      SELECT sum(c_ab) AS n_bg FROM bg
    )
    SELECT bg.w1, bg.w2, CAST(bg.c_ab AS BIGINT) AS c_ab,
           round(ln((CAST(bg.c_ab AS DOUBLE) / btot.n_bg)
                    / ((CAST(a.c_u AS DOUBLE) / tot.n_tok)
                       * (CAST(b.c_u AS DOUBLE) / tot.n_tok))), 6) AS pmi
    FROM bg
    JOIN uni a ON a.term = bg.w1
    JOIN uni b ON b.term = bg.w2
    CROSS JOIN tot CROSS JOIN btot
    WHERE bg.c_ab >= 10
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: PMI(a,b) =
    ln(p(ab) / (p(a)·p(b))) over adjacent token pairs, reported for
    bigrams with support >= 10. The plan is two corpus-linear counting
    aggs (unigrams, bigrams); the PMI join attaches the unigram table
    twice under the MEASURED vocab gate (round 8 — vocabulary is
    unbounded cardinality by Heaps' law, so it broadcasts only below
    _TFIDF_VOCAB_BROADCAST_MAX and goes keyed shuffle_hash above, the
    same gate text_tfidf_topk carries) with the two scalar totals
    broadcast as literals-by-crossjoin (1 row each — bounded by
    construction). Nothing in the plan is quadratic; the expensive side
    (bigram counts) shuffles once on its natural key."""
    from .text import _TFIDF_VOCAB_BROADCAST_MAX

    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("l"))
    uni = (
        base.select(F.explode("l").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_u"))
        .cache()  # vocab-sized; shared by the gate count, tot, and both attaches
    )
    vocab_fits_broadcast = uni.count() <= _TFIDF_VOCAB_BROADCAST_MAX
    tot = uni.agg(F.sum("c_u").alias("n_tok"))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("l")) - 2),
        lambda i: F.struct(
            F.element_at(F.col("l"), i + 1).alias("w1"),
            F.element_at(F.col("l"), i + 2).alias("w2"),
        ),
    )
    bg = (
        base.select(F.explode(bigrams).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 10)
    )
    btot_df = (
        base.select(F.explode(bigrams).alias("p"))
        .agg(F.count(F.lit(1)).alias("n_bg"))
    )
    a = uni.select(F.col("term").alias("w1"), F.col("c_u").alias("c_a"))
    b = uni.select(F.col("term").alias("w2"), F.col("c_u").alias("c_b"))
    if vocab_fits_broadcast:
        a, b = F.broadcast(a), F.broadcast(b)
    else:
        a, b = a.hint("shuffle_hash"), b.hint("shuffle_hash")
    p_ab = F.col("c_ab").cast("double") / F.col("n_bg")
    p_a = F.col("c_a").cast("double") / F.col("n_tok")
    p_b = F.col("c_b").cast("double") / F.col("n_tok")
    return (
        bg.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot_df))
        .select(
            "w1",
            "w2",
            bi(F.col("c_ab")).alias("c_ab"),
            r6(F.log(p_ab / (p_a * p_b))).alias("pmi"),
        )
    )


@query(
    "text_vocab_growth_heaps",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      FROM documents
    ),
    first_seen AS (
      SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token
    ),
    milestones AS (
      SELECT DISTINCT CAST(m AS BIGINT) AS milestone
      FROM (SELECT ((SELECT max(doc_id) FROM documents) * k) // 10 AS m
            FROM range(1, 11) t(k))
    )
    SELECT m.milestone,
           CAST(count(f.token) AS BIGINT) AS vocab_size,
           CAST((SELECT count(*) FROM tok t2
                 WHERE t2.doc_id <= m.milestone) AS BIGINT) AS n_tokens
    FROM milestones m
    LEFT JOIN first_seen f ON f.first_doc <= m.milestone
    GROUP BY m.milestone
    """,
)
def text_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: vocabulary size vs corpus size at 10 doc-id
    milestones — the corpus statistic that answers 'is more data still
    buying new vocabulary?' (sub-linear growth V ≈ K·nᵝ is healthy text;
    a linear curve means boilerplate/noise). Computed WITHOUT replaying
    the corpus per milestone: each token's FIRST-occurrence doc (one
    token-keyed min-agg over the corpus) makes vocab-at-milestone a
    count of first_docs ≤ m — the milestone×token range join runs
    against the (vocab-sized, broadcastable) first-seen table and token
    totals against a 10-row milestone dim, never corpus × milestones.
    Milestones derive from max(doc_id) so the curve is scale-free."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("token"),
    )
    first_seen = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    max_doc = docs.agg(F.max("doc_id").alias("mx"))
    # distinct(): when max(doc_id) < 10 integer division collapses
    # milestones into duplicates (and zeros); without the collapse the
    # n_tokens cross-join would multiply counts by the duplicate
    # multiplicity while the oracle's DISTINCT CTE would not.
    milestones = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(max_doc))
        .select(F.expr("(mx * id) div 10").alias("milestone"))
        .distinct()
    )
    vocab = (
        F.broadcast(milestones)
        .join(first_seen, F.col("first_doc") <= F.col("milestone"), "left")
        .groupBy("milestone")
        .agg(F.count("token").alias("vocab_size"))
    )
    tokens_at = (
        toks.crossJoin(F.broadcast(milestones))
        .where(F.col("doc_id") <= F.col("milestone"))
        .groupBy("milestone")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    return vocab.join(tokens_at, "milestone").select(
        bi(F.col("milestone")).alias("milestone"),
        bi(F.col("vocab_size")).alias("vocab_size"),
        bi(F.col("n_tokens")).alias("n_tokens"),
    )


_RAKE_STOPWORDS = ("a", "the")


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i AS pos, toksarr[i] AS tok
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toksarr
        FROM documents
      ), unnest(range(1, len(toksarr) + 1)) AS t(i)
    ),
    marked AS (
      SELECT doc_id, pos, tok,
             sum(CASE WHEN tok IN ('a', 'the') THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
             tok IN ('a', 'the') AS is_stop
      FROM toks
    ),
    phrase_words AS (
      SELECT doc_id, phrase_id, tok,
             count(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
      FROM marked WHERE NOT is_stop
    ),
    word_stats AS (
      SELECT tok AS word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(phrase_len) AS BIGINT) AS degree
      FROM phrase_words GROUP BY tok
    )
    SELECT word, freq, degree,
           round(degree / CAST(freq AS DOUBLE), 6) AS rake_score
    FROM word_stats
    ORDER BY degree / CAST(freq AS DOUBLE) DESC, word
    LIMIT 30
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rapid Automatic Keyword Extraction): token
    runs between stopwords form candidate phrases; each word scores
    degree/frequency, where degree sums the lengths of every phrase the
    word appears in — words that live in LONG phrases outrank equally
    frequent words from short ones, which is RAKE's whole trick. Top 30
    words under the deterministic (score desc, word asc) order. The
    phrase segmentation is a running stopword count (one doc-keyed
    window — phrase ids are per-document, so the window partitions by
    doc and state is per-doc bounded); stats are one (doc, phrase)
    window + one word-keyed agg. freq and degree are exact INTEGERS, so
    the score quotient sees bit-identical operands on both engines
    (SURVEY §5.3 discipline — no float accumulation anywhere)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "pos", "tok"
        ),
    )
    is_stop = F.col("tok").isin(*_RAKE_STOPWORDS)
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.sum(is_stop.cast("int")).over(w_doc).alias("phrase_id"),
        is_stop.alias("is_stop"),
    )
    pw = marked.where(~F.col("is_stop")).withColumn(
        "phrase_len",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "phrase_id")),
    )
    stats = pw.groupBy(F.col("tok").alias("word")).agg(
        bi(F.count(F.lit(1))).alias("freq"),
        bi(F.sum("phrase_len")).alias("degree"),
    )
    score = F.col("degree") / F.col("freq").cast("double")
    return (
        stats.orderBy(score.desc(), F.asc("word"))
        .limit(30)
        .select("word", "freq", "degree", F.round(score, 6).alias("rake_score"))
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(s, CAST(i AS INT), 1) AS ch
      FROM (SELECT doc_id, replace(text, ' ', '') AS s FROM documents),
           unnest(range(1, length(s) + 1)) AS t(i)
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, sum(c) AS n FROM counts GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(t.n AS BIGINT) AS n_chars,
           round(sum(-(c.c / CAST(t.n AS DOUBLE))
                     * log2(c.c / CAST(t.n AS DOUBLE))), 6) AS entropy_bits
    FROM counts c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id, t.n
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (bits/char over the space-stripped
    text) — the cheapest compressibility signal a corpus pipeline has:
    natural text sits near the alphabet's entropy, boilerplate and
    generated spam sit far below it (pairs with text_repetition_gopher —
    that op catches repeated n-grams, this one catches skewed symbol
    distributions, e.g. base64 blobs score HIGH). One (doc, char) count
    agg (key space = docs × alphabet) reduced to doc grain; the
    entropy terms are computed from identical integer counts on both
    engines, so the only float hazard is the ≤|alphabet|-term sum,
    comfortably inside r6 (SURVEY §5.3)."""
    docs = t(spark, sf_dir, "documents")
    stripped = F.replace(F.col("text"), F.lit(" "), F.lit(""))
    chars = docs.select(
        "doc_id", F.explode(F.split(stripped, "(?!^)")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(r6(F.sum(-p * F.log2(p))).alias("entropy_bits"))
        .select("doc_id", bi(F.col("n")).alias("n_chars"), "entropy_bits")
    )


@query(
    "text_substring_vocab_seed",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    subs AS (
      SELECT unnest(flatten(list_transform([2, 3, 4], L ->
        CASE WHEN length(tok) >= L
             THEN list_transform(range(1, length(tok) - L + 2),
                                 i -> substr(tok, CAST(i AS INT), CAST(L AS INT)))
             ELSE [] END))) AS sub
      FROM tok
    )
    SELECT sub, CAST(length(sub) AS BIGINT) AS sub_len, count(*) AS n_occurrences
    FROM subs GROUP BY sub
    ORDER BY n_occurrences DESC, sub
    LIMIT 30
    """,
)
def text_substring_vocab_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-tokenizer vocabulary seeding: every substring of length
    2–4 inside every token, counted corpus-wide, top 30 — the candidate
    inventory a SentencePiece-unigram trainer starts from before EM
    pruning (text_bpe_pair_counts is the BPE sibling: that one counts
    merge CANDIDATES, this one counts whole-piece candidates). The
    ~3|token| substring expansion is generated in-row by nested
    sequence/substring HOFs (no Python), the count reduces over a
    bounded key space (alphabet^≤4), and the final is
    TakeOrderedAndProject under the (count desc, piece asc) total
    order. One scan per seeding round, the same per-round cost bound
    the BPE lane documents."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    )
    subs_expr = F.expr(
        "flatten(transform(sequence(2, 4), L -> "
        "case when length(tok) >= L "
        "then transform(sequence(1, length(tok) - L + 1), i -> substring(tok, i, L)) "
        "else array() end))"
    )
    return (
        toks.select(F.explode(subs_expr).alias("sub"))
        .groupBy("sub")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("sub"))
        .limit(30)
        .select("sub", bi(F.length("sub")).alias("sub_len"), bi(F.col("n_occurrences")).alias("n_occurrences"))
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      FROM documents
    ),
    freq AS (
      SELECT token, count(*) AS c FROM tok GROUP BY token
    ),
    ranked AS (
      SELECT token, c, row_number() OVER (ORDER BY c DESC, token) AS rk
      FROM freq
    ),
    tot AS (SELECT sum(c) AS n FROM freq),
    sizes AS (SELECT CAST(k AS BIGINT) AS vocab_size FROM (VALUES (10), (25), (50), (100)) t(k))
    SELECT s.vocab_size,
           CAST(sum(r.c) AS BIGINT) AS covered_occurrences,
           (SELECT CAST(n AS BIGINT) FROM tot) AS total_occurrences,
           round(sum(r.c) / (SELECT CAST(n AS DOUBLE) FROM tot), 6) AS coverage,
           round(1.0 - sum(r.c) / (SELECT CAST(n AS DOUBLE) FROM tot), 6) AS oov_rate
    FROM sizes s JOIN ranked r ON r.rk <= s.vocab_size
    GROUP BY s.vocab_size
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage curve: token-occurrence share covered by the
    top-k vocabulary at k ∈ {10, 25, 50, 100} — the OOV-rate analysis
    that sizes every closed-vocab model and tokenizer budget (pairs with
    text_vocab_growth_heaps: that one asks 'how fast does vocab grow',
    this one 'how much does a FIXED vocab cover'). Frequency table is
    one token-keyed agg; the rank is over the VOCAB-sized table (ranked
    by (count, token) total order — at web scale this is where the
    range-partitioned rank helper would slot in, per text_wordcount);
    coverage sums join the 4-row size dim against rank prefixes. The
    coverage ratio divides identical integers → identical doubles."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    ranked = freq.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("token"))).alias("rk")
    )
    tot = freq.agg(F.sum("c").alias("n"))
    sizes = spark.createDataFrame([(10,), (25,), (50,), (100,)], "vocab_size long")
    cov = (
        F.broadcast(sizes)
        .join(ranked, F.col("rk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.sum("c").alias("covered"))
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        "vocab_size",
        bi(F.col("covered")).alias("covered_occurrences"),
        bi(F.col("n")).alias("total_occurrences"),
        r6(F.col("covered") / F.col("n").cast("double")).alias("coverage"),
        r6(1.0 - F.col("covered") / F.col("n").cast("double")).alias("oov_rate"),
    )


@query(
    "text_lm_greedy_decode",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, i AS pos, toksarr[i] AS tok
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toksarr
        FROM documents
      ), unnest(range(1, len(toksarr) + 1)) AS t(i)
    ),
    pairs AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    big AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
    nxt AS (
      SELECT w1, w2 FROM (
        SELECT w1, w2, row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
        FROM big
      ) WHERE rn = 1
    ),
    start AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT 1
      )
    ),
    dec AS (
      SELECT CAST(1 AS BIGINT) AS step, (SELECT tok FROM start) AS token
      UNION ALL
      SELECT dec.step + 1, n.w2
      FROM dec JOIN nxt n ON n.w1 = dec.token
      WHERE dec.step < 12
    )
    SELECT step, token FROM dec
    """,
)
def text_lm_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy (argmax) decoding from the corpus bigram model: start at
    the most frequent token, follow the highest-count transition for 12
    steps (ties → lexicographic, so the walk is fully deterministic and
    ORACLE-ABLE — the DuckDB twin is a recursive CTE). This is the
    decode loop of text_lm_bigram_score's model, and the architectural
    point is the asymmetry every LM pipeline lives on: the MODEL
    (argmax transition table, vocab-sized) is collected to the driver —
    models are small, corpora are big — while model ESTIMATION (the
    bigram counts) stays a distributed corpus scan. A greedy walk
    typically falls into a 2-cycle; that's the correct fixpoint of the
    argmax chain, not a bug. Spark side: one corpus window pass for
    pairs, vocab-grain argmax window, 12-step driver walk over the
    collected dict, result returned as a 12-row frame."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda x: x != "")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        F.lag("tok").over(w).alias("w1"), F.col("tok").alias("w2")
    ).where(F.col("w1").isNotNull())
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    w_arg = Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2"))
    nxt = {
        r["w1"]: r["w2"]
        for r in big.withColumn("rn", F.row_number().over(w_arg))
        .where(F.col("rn") == 1)
        .select("w1", "w2")
        .collect()
    }
    start = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(1)
        .collect()[0]["tok"]
    )
    seq, cur = [(1, start)], start
    for step in range(2, 13):
        cur = nxt.get(cur)
        if cur is None:
            break
        seq.append((step, cur))
    return spark.createDataFrame(seq, schema="step bigint, token string")


@query(
    "text_common_prefixes",
    oracle="""
    WITH p AS (
      SELECT doc_id, source,
             array_to_string(list_filter(string_split(text, ' '), x -> x != '')[1:3], ' ')
               AS prefix
      FROM documents
    ),
    tot AS (SELECT source, count(*) AS n_docs FROM p GROUP BY source)
    SELECT p.source, p.prefix,
           CAST(count(*) AS BIGINT) AS n_docs_with_prefix,
           CAST(t.n_docs AS BIGINT) AS n_docs_in_source,
           round(count(*) / CAST(t.n_docs AS DOUBLE), 6) AS prefix_share
    FROM p JOIN tot t USING (source)
    GROUP BY p.source, p.prefix, t.n_docs
    HAVING count(*) >= 2
    """,
)
def text_common_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-head mining: repeated 3-token document OPENINGS per
    source, with within-source share — the CCNet-style signal that a
    crawler template ('subscribe to our newsletter…') is polluting a
    source (text_span_dedup removes repeated spans ANYWHERE; this
    cheaply localizes the head-template case and attributes it to a
    source, which is what you act on — drop the template per source,
    not per document). One projection (slice + join of the first 3
    tokens) and two source-keyed aggs; shares are exact-integer
    ratios."""
    docs = t(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.filter(F.split("text", " "), lambda x: x != ""), 1, 3), " "
    )
    p = docs.select("doc_id", "source", prefix.alias("prefix"))
    tot = p.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        p.groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            "prefix",
            bi(F.col("c")).alias("n_docs_with_prefix"),
            bi(F.col("n_docs")).alias("n_docs_in_source"),
            r6(F.col("c") / F.col("n_docs").cast("double")).alias("prefix_share"),
        )
    )


from ..registry import ORACLES as _ORACLES, QUERIES  # noqa: E402  (composition below)


@query(
    "lang_id_confusion_eval",
    oracle=f"""
    WITH pred AS (
    {_ORACLES["text_lang_id"]}
    ),
    tot AS (SELECT count(*) AS n, sum(is_correct) AS n_correct FROM pred)
    SELECT p.actual_lang, p.predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           (SELECT CAST(n_correct AS BIGINT) FROM tot) AS n_correct_total,
           round((SELECT n_correct / CAST(n AS DOUBLE) FROM tot), 6) AS accuracy
    FROM pred p
    GROUP BY p.actual_lang, p.predicted_lang
    """,
)
def lang_id_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy for the language-ID classifier —
    text_lang_id evaluated against the labeled `lang` column, the eval
    that belongs next to every heuristic gate (the fourth eval lane:
    sim_recall_eval for ANN, dedup_recall_eval for MinHash,
    quantile_accuracy_eval for sketches, this for classification). The
    op COMPOSES the registered operator: Spark side calls
    QUERIES['text_lang_id'] and aggregates its per-doc verdicts; the
    oracle embeds ORACLES['text_lang_id'] as a CTE — evaluator and
    evaluated can never drift apart because they ARE the same
    definition. Aggregation is (actual, predicted)-keyed — |langs|²
    cells at any corpus size."""
    pred = QUERIES["text_lang_id"](spark, sf_dir)
    tot = pred.agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_correct").alias("n_correct")
    )
    return (
        pred.groupBy("actual_lang", "predicted_lang")
        .agg(bi(F.count(F.lit(1))).alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "actual_lang",
            "predicted_lang",
            "n_docs",
            bi(F.col("n_correct")).alias("n_correct_total"),
            r6(F.col("n_correct") / F.col("n").cast("double")).alias("accuracy"),
        )
    )
