"""§2 round-5 addendum BQ — exact set-similarity join via prefix
filtering, cogrouped-map and Arrow-batch API surfaces, Delta version
CDC, and two statistics lanes.

- dedup_prefix_filter_jaccard — EXACT Jaccard ≥ 0.8 self-join at scale:
  the SSJoin/PPJoin prefix-filtering principle (Chaudhuri et al. 2006,
  Xiao et al. 2008) — candidates need only share one token of each
  other's rare-first PREFIX, yet the result provably equals the full
  all-token equijoin (same oracle as dedup_near_jaccard, hash-matched).
- join_cogrouped_asof — the cogrouped-map API surface
  (``groupBy().cogroup().applyInPandas``): per-user pandas merge_asof,
  the canonical "align two keyed streams" escape hatch when built-in
  join shapes run out.
- emb_normalize_arrow — the ``mapInArrow`` API surface: RecordBatch-level
  vectorized L2 normalization, arithmetic-order-matched to the JVM fold
  so the oracle hash certifies the Arrow path bit-for-bit.
- scan_delta_version_diff — CDC between two Delta versions from the LOG:
  only files in the version set difference are ever scanned (rows in
  shared files cannot have changed), then a keyed full-outer diff.
- stats_mutual_information — segment×nation mutual-information table
  (joint/marginal window shares, PMI + MI contribution per cell).
- text_zipf_fit — per-language Zipf rank-frequency power-law fit via
  built-in regression aggregates over the ranked vocabulary.
"""

from __future__ import annotations

import os
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table as t
from ..functions.parity import bi, r6
from ..functions.ranks import with_global_row_number
from ..registry import query
from .text import _tokens

_JACCARD_ORACLE = """
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
    """


@query("dedup_prefix_filter_jaccard", oracle=_JACCARD_ORACLE)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.8 via PREFIX FILTERING — the scalable
    EXACT twin of dedup_near_jaccard (byte-identical output, same oracle
    SQL, so the driver hash certifies the equivalence), and the exactness
    counterpart to dedup_minhash_lsh's approximate lane.

    Principle (SSJoin / PPJoin): order every document's token set by
    ascending global document frequency (rarest first, term asc
    tie-break). For threshold t, a doc's prefix is its first
    |A| − ⌈t·|A|⌉ + 1 tokens in that order. If J(A,B) ≥ t then
    |A∩B| ≥ t·|A∪B| ≥ t·|A|; were A's whole prefix outside A∩B, A would
    have ≥ |A| − ⌈t·|A|⌉ + 1 tokens outside the intersection, i.e.
    |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| — contradiction. The minimal-order token
    of A∩B therefore sits in BOTH prefixes, so joining on prefix tokens
    alone misses nothing; survivors are verified with the exact
    intersection count. Candidate volume drops from Σ df² over EVERY
    token (the all-token equijoin) to Σ df_prefix² over only the RAREST
    ~20% of each doc — the frequent tokens that dominate the quadratic
    blow-up never enter the join. No global rank table is built: the
    (df, term) pair itself is the total order, so per-doc sorting is one
    in-row array_sort of structs — no vocabulary-wide window anywhere.
    Exactness is what MinHash trades away; this is the lane to run when
    the dedup decision must be auditable (J ≥ 0.8 means J ≥ 0.8)."""
    docs = t(spark, sf_dir, "documents")
    tok = _tokens(docs).distinct()
    df_counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # per-doc token array sorted rare-first: struct(df, term) sorts by df
    # then term — a consistent global order without a global rank window
    by_doc = (
        tok.join(df_counts, "term")
        .groupBy("doc_id", "lang")
        .agg(F.array_sort(F.collect_list(F.struct("df", "term"))).alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.transform("toks", lambda s: s["term"]).alias("terms"),
            F.size("toks").alias("n_terms"),
        )
    )
    prefix_len = F.col("n_terms") - F.ceil(F.lit(0.8) * F.col("n_terms")) + 1
    prefixes = by_doc.select(
        "doc_id",
        "lang",
        F.explode(F.slice("terms", 1, prefix_len.cast("int"))).alias("term"),
    )
    cand = (
        prefixes.select(F.col("doc_id").alias("doc_a"), "lang", "term")
        .join(prefixes.select(F.col("doc_id").alias("doc_b"), "lang", "term"), ["lang", "term"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = by_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("terms").alias("terms_a"),
        F.col("n_terms").alias("n_a"),
    )
    tb = by_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("terms").alias("terms_b"),
        F.col("n_terms").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("terms_a", "terms_b"))
    jac = n_common.cast("double") / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", r6(jac).alias("jaccard"))
    )


@query(
    "join_cogrouped_asof",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, max(value) AS value FROM events
      WHERE event_type = 'view' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), cand AS (
      SELECT p.event_id, v.ts AS vts, v.value,
             row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC) AS rn
      FROM purchases p JOIN views v
        ON v.user_id = p.user_id AND v.ts < p.ts
    )
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.vts AS last_view_ts,
           round(c.value, 6) AS last_view_value,
           epoch_us(p.ts) - epoch_us(c.vts) AS gap_us
    FROM purchases p
    LEFT JOIN cand c ON c.event_id = p.event_id AND c.rn = 1
    """,
)
def join_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of alignment via the COGROUPED-MAP API —
    ``dfA.groupBy(k).cogroup(dfB.groupBy(k)).applyInPandas``: for every
    purchase, the user's strictly-last 'view' event (ts, value, gap).
    The built-in twins (join_asof family) express as-of with window/join
    compositions; this lane exercises the escape hatch Spark provides
    when per-key logic outgrows them — both keyed streams arrive as
    in-memory pandas frames per key and ``pd.merge_asof`` (backward,
    exact matches excluded) does the alignment. Scale shape: ONE
    co-partitioning shuffle of each side on user_id, Arrow-batched both
    ways, per-group memory bounded by one user's events — the same
    contract as any keyed streaming state. Ties are removed before the
    cogroup (views pre-aggregated per (user, ts) — max value), so the
    as-of pick is deterministic on both engines. gap is epoch-µs
    arithmetic, timezone-free (the session-tz hazard of date casts never
    enters)."""
    ev = t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    def asof(key, pdf_p: pd.DataFrame, pdf_v: pd.DataFrame) -> pd.DataFrame:
        p = pdf_p.sort_values("ts").reset_index(drop=True)
        v = pdf_v.sort_values("ts").reset_index(drop=True)
        merged = pd.merge_asof(
            p,
            v.rename(columns={"ts": "last_view_ts", "value": "last_view_value"}),
            left_on="ts",
            right_on="last_view_ts",
            direction="backward",
            allow_exact_matches=False,
        )
        out = pd.DataFrame(
            {
                "purchase_id": merged["event_id"],
                "user_id": merged["user_id_x"] if "user_id_x" in merged else merged["user_id"],
                "purchase_ts": merged["ts"],
                "last_view_ts": merged["last_view_ts"],
                "last_view_value": merged["last_view_value"].round(6),
                "gap_us": (
                    (merged["ts"] - merged["last_view_ts"]).dt.total_seconds() * 1_000_000
                ).round(),
            }
        )
        return out

    schema = (
        "purchase_id bigint, user_id bigint, purchase_ts timestamp, "
        "last_view_ts timestamp, last_view_value double, gap_us bigint"
    )
    return (
        purchases.groupBy("user_id")
        .cogroup(views.groupBy("user_id"))
        .applyInPandas(asof, schema)
    )


@query(
    "emb_normalize_arrow",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (acc, x) -> acc + x)) AS nrm,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    )
    SELECT vec_id, label,
           list_transform(emb, x -> round(x / nrm, 6)) AS unit
    FROM norms
    """,
)
def emb_normalize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization through the ``mapInArrow`` API — the third and
    lowest-level Python batch surface (below pandas_udf and
    applyInPandas): the function receives raw ``pyarrow.RecordBatch``es
    and returns them, no pandas materialization, the shape used when a
    kernel wants zero-copy access to Arrow buffers (tokenizers, image
    decoders, FFI libraries). The numpy arithmetic is ORDER-MATCHED to
    the oracle's sequential left fold — np.cumsum's last element performs
    the identical left-to-right IEEE-754 double additions as
    list_reduce's fold (and 0.0 + x is exact) — so the value hash
    certifies the Arrow path bit-for-bit, the same discipline as
    emb_norm_audit. Scale shape: embarrassingly parallel, one pass, no
    shuffle; batch size bounded by Arrow's default batching."""
    import pyarrow as pa

    emb = t(spark, sf_dir, "embeddings")

    def normalize(batches):
        import numpy as np

        for batch in batches:
            pdf = batch.to_pandas()
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # sequential left-to-right sum — bit-identical to the SQL fold
            nrm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
            unit = np.round(mat / nrm[:, None], 6)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(pdf["vec_id"], type=pa.int64()),
                    "label": pa.array(pdf["label"], type=pa.int32()),
                    "unit": pa.array(list(unit), type=pa.list_(pa.float64())),
                }
            )

    return emb.select("vec_id", "label", "embedding").mapInArrow(
        normalize, "vec_id bigint, label int, unit array<double>"
    )


@query(
    "scan_delta_version_diff",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 12 THEN n_name || '-old' ELSE n_name END AS name_v0,
           n_name AS name_latest,
           CASE WHEN n_nationkey < 12 THEN 'updated' ELSE 'unchanged' END AS change
    FROM nation
    """,
)
def scan_delta_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two versions of a Delta-protocol table computed from
    the LOG, not the data: replay gives each version's live file set
    (driver-side metadata, checkpoint-bounded), and only files in the
    SYMMETRIC DIFFERENCE are ever scanned — a row living in a file
    present in both versions cannot have changed, so at 100 TB a
    ten-file commit diff reads ten files, never the table. The scanned
    sides full-outer join on the key and classify added / removed /
    updated / unchanged (unchanged-but-rewritten rows surface here
    because copy-on-write rewrites carry them into new files — exactly
    what Delta's own CDF emits without the _change_data extension). On
    the fixture v0 = {part-a, part-b} vs latest = {part-c, part-e}
    share nothing, so all 25 keys flow through; keys < 12 are 'updated'
    ('-old' names superseded), the rest 'unchanged'. Oracle reconstructs
    both states from clean nation in SQL."""
    from .delta_reader import _build_fixture, delta_state
    from .sources import built

    base = built(sf_dir, "delta_table", partial(_build_fixture, spark, sf_dir))
    live0, _, _, _, _ = delta_state(spark, base, version=0)
    liveN, _, _, _, _ = delta_state(spark, base, version=None)
    only0 = sorted(set(live0) - set(liveN))
    onlyN = sorted(set(liveN) - set(live0))

    def read(paths: list[str]) -> DataFrame:
        return spark.read.parquet(*[os.path.join(base, p) for p in paths])

    v0 = read(only0).select(
        F.col("n_nationkey").alias("k0"), F.col("n_name").alias("name_v0")
    )
    vN = read(onlyN).select(
        F.col("n_nationkey").alias("kN"), F.col("n_name").alias("name_latest")
    )
    joined = v0.join(vN, v0.k0 == vN.kN, "full_outer")
    change = (
        F.when(F.col("k0").isNull(), F.lit("added"))
        .when(F.col("kN").isNull(), F.lit("removed"))
        .when(F.col("name_v0") == F.col("name_latest"), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return joined.select(
        F.coalesce("k0", "kN").alias("n_nationkey"),
        "name_v0",
        "name_latest",
        change.alias("change"),
    )


@query(
    "stats_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT c_mktsegment AS segment, n_name, count(*) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM joint)
    SELECT segment, n_name, n,
           round(ln((n / t) /
             ((sum(n) OVER (PARTITION BY segment) / t)
              * (sum(n) OVER (PARTITION BY n_name) / t))), 6) AS pmi,
           round((n / t) * ln((n / t) /
             ((sum(n) OVER (PARTITION BY segment) / t)
              * (sum(n) OVER (PARTITION BY n_name) / t))), 6) AS mi_contrib
    FROM joint CROSS JOIN tot
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (market
    segment × nation) as a per-cell table: joint count, pointwise MI
    ln(p(x,y)/(p(x)p(y))), and the cell's MI contribution p(x,y)·pmi —
    the feature-selection / DQ primitive ("does this column carry
    signal about that one?"; Σ mi_contrib = MI(X;Y), and an
    all-near-zero table is independence). Scale shape: one fact-side
    groupBy to the |X|·|Y|-bounded joint table; marginals are WINDOW
    sums over that tiny frame (never a second corpus pass) and the
    grand total is a 1-row broadcast. Both engines compute the same
    double ratios in the same order, so ln() sees identical arguments
    and r6 hashes exactly."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    from pyspark.sql import Window

    joint = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = joint.agg(F.sum("n").cast("double").alias("t"))
    px = F.sum("n").over(Window.partitionBy("segment")) / F.col("t")
    py = F.sum("n").over(Window.partitionBy("n_name")) / F.col("t")
    pxy = F.col("n") / F.col("t")
    pmi = F.log(pxy / (px * py))
    return joint.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_name",
        "n",
        r6(pmi).alias("pmi"),
        r6(pxy * pmi).alias("mi_contrib"),
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT lang, term, count(*) AS cnt FROM tok WHERE term != ''
      GROUP BY lang, term
    ), ranked AS (
      SELECT lang, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rnk
      FROM counts
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rnk)), 6) AS fit_r2
    FROM ranked
    GROUP BY lang
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope of
    ln(frequency) on ln(rank) over the ranked vocabulary (slope ≈ −1
    for natural text; |slope| collapsing toward 0 flags templated or
    synthetic corpora — the corpus-health companion to
    text_vocab_growth_heaps' vocabulary-side law). Built-in regression
    aggregates (regr_slope/intercept/r2) keep the whole fit one
    partial+final agg; ranking is per-language (count desc, term asc —
    deterministic), a keyed window, never a global sort. The vocabulary
    table is the only shuffle grain: Heaps-sublinear in corpus size, so
    the lane's cost at 100 TB is the wordcount it already shares with
    every text lane."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counts = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term").asc())
    )
    ranked = counts.select("lang", "cnt", rnk.alias("rnk"))
    lc, lr = F.log("cnt"), F.log("rnk")
    return ranked.groupBy("lang").agg(
        bi(F.count(F.lit(1))).alias("n_terms"),
        r6(F.regr_slope(lc, lr)).alias("zipf_slope"),
        r6(F.regr_intercept(lc, lr)).alias("zipf_intercept"),
        r6(F.regr_r2(lc, lr)).alias("fit_r2"),
    )
