"""§2 round-5 addendum BR — runtime-filter join reduction, SQL scripting
surface, sketch top-k, forensic DQ, grid-bucketed geo join, and table-log
history.

- join_bloom_prefilter — semi-join reduction via an explicit broadcast
  bitmap filter: the mechanism behind Catalyst's InjectRuntimeFilter,
  built as first-class dataflow (the built-in injection is gated on
  session-global size thresholds a library query must not mutate).
- sql_execute_immediate — session variables + EXECUTE IMMEDIATE ... USING:
  Spark 4's SQL-scripting parameterization surface.
- agg_approx_topk — the approx_top_k sketch aggregate, exploded to rows;
  k exceeds the distinct count so the oracle is the exact group-by.
- dq_benford_check — Benford's-law first-digit audit over order totals
  (the classic forensic DQ screen), integer-exact digit extraction.
- geo_grid_distance_join — nearest supplier per customer within a 3×3
  grid-cell neighborhood: the geohash-bucketed spatial-join shape that
  replaces the quadratic cross-distance join at scale.
- txnlog_describe_history — DESCRIBE HISTORY for the round-4
  log-structured table: per-version live file/row counts from log replay.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table as t
from ..functions.parity import bi, r6
from ..registry import query


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim join with an EXPLICIT broadcast-bitmap runtime filter —
    the mechanism behind Catalyst's InjectRuntimeFilter rule, built as
    first-class dataflow. The selective dim side (urgent orders) hashes
    its keys into a fixed 2²²-bit bitmap (word = bit >> 6, mask =
    1 << (bit & 63), bit_or per word — ≤ 65k rows however large the key
    set); the fact side broadcasts that bitmap, tests its own key's bit
    map-side, and only surviving rows enter the real join, where the
    exact equi-join removes the bitmap's false positives — so the result
    is EXACTLY the plain join (the oracle) while the corpus-scale
    shuffle moves only rows that can match. Why explicit instead of
    flipping Catalyst's knobs: the built-in injection is gated on
    session-global thresholds (runtime.bloomFilter.*ScanSizeThreshold)
    that a library query must not mutate under the caller, and the
    physical rewrite happens at action time — after any try/finally
    restore has run. At 100 TB this is the difference between shuffling
    the full fact table and shuffling the selectivity-bounded slice;
    same contract as a Bloom pushdown in any warehouse engine."""
    m_bits = 1 << 22
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")

    def with_word_mask(df: DataFrame, key: str) -> DataFrame:
        return df.withColumn(
            "_pos", F.pmod(F.xxhash64(key), F.lit(m_bits))
        ).select(
            "*",
            F.floor(F.col("_pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT))").alias(
                "mask"
            ),
        ).drop("_pos")

    bitmap = (
        with_word_mask(o.select("o_orderkey"), "o_orderkey")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    fact = with_word_mask(
        li.select("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey"
    ).join(F.broadcast(bitmap), "word")
    candidates = fact.filter(F.col("mask").bitwiseAND(F.col("bits")) != 0).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = candidates.join(
        o.select("o_orderkey", "o_orderdate"),
        candidates.l_orderkey == F.col("o_orderkey"),
    )
    return joined.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting surface: session variables (DECLARE /
    SET VAR) parameterizing EXECUTE IMMEDIATE with USING placeholders —
    the dynamic-SQL shape migration scripts and governed notebooks use
    instead of string interpolation (parameters bind as VALUES, so no
    injection surface and the plan caches by template). The statement
    text itself also arrives through a variable, exercising both halves
    of the feature. Catalyst sees an ordinary parameterized plan:
    pushdown/pruning are unaffected at any scale."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ["orders"])
    spark.sql("DECLARE OR REPLACE VARIABLE p1 STRING")
    spark.sql("DECLARE OR REPLACE VARIABLE p2 STRING")
    spark.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
    spark.sql("SET VAR p1 = '1-URGENT'")
    spark.sql("SET VAR p2 = '2-HIGH'")
    spark.sql(
        """SET VAR stmt =
        'SELECT o_orderpriority, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS total
         FROM orders WHERE o_orderpriority IN (?, ?)
         GROUP BY o_orderpriority'"""
    )
    return spark.sql("EXECUTE IMMEDIATE stmt USING p1, p2")


@query(
    "agg_approx_topk",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``approx_top_k`` sketch aggregate (space-saving style: bounded
    tracking state however many distinct values stream past), exploded
    to (item, cnt) rows. k = 10 exceeds the event-type cardinality, so
    the sketch degenerates to exact counts and the plain GROUP BY oracle
    hash-certifies the API end to end — the same
    exact-at-small-cardinality discipline as the HLL and count-min
    lanes, whose merge/accuracy pins cover the genuinely-approximate
    regime. Scale shape: one partial+final agg carrying a k-bounded
    state, the frequent-items answer without a full group-by when the
    domain is adversarially wide (agg_heavy_hitters is the two-phase
    exact twin)."""
    ev = t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_topk_events")
    sk = spark.sql(
        "SELECT approx_top_k(event_type, 10) AS tk FROM _topk_events"
    )
    return sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )


@query(
    "dq_benford_check",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
      WHERE o_totalprice > 0
    ), digits AS (
      SELECT CAST(floor(c / pow(10, length(CAST(c AS VARCHAR)) - 1)) AS BIGINT) AS digit
      FROM cents
    ), obs AS (
      SELECT digit, count(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM obs)
    SELECT digit, n,
           round(n / t, 6) AS obs_share,
           round(log10(1 + 1.0 / digit), 6) AS benford_share,
           round(n / t - log10(1 + 1.0 / digit), 6) AS excess
    FROM obs CROSS JOIN tot
    """,
)
def dq_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    forensic DQ screen (fabricated or systematically generated amounts
    flunk the log-law the digit distribution of organic multiplicative
    data follows; TPC-H's uniform generator deliberately flunks it too,
    which the excess column makes visible). Digit extraction is
    INTEGER-exact on both engines: cents = round(total·100) is integral,
    and floor(c / 10^(len(c)−1)) does exact double arithmetic below 2⁵³
    — no float-to-string formatting ever enters (engine float formatting
    differs; integer formatting doesn't). One corpus pass to the 9-row
    digit frame; shares via a 1-row total broadcast."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    digit = F.floor(
        cents / F.pow(F.lit(10.0), F.length(cents.cast("string")) - 1)
    ).cast("long")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = obs.agg(F.sum("n").cast("double").alias("t"))
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        r6(F.col("n") / F.col("t")).alias("obs_share"),
        r6(benford).alias("benford_share"),
        r6(F.col("n") / F.col("t") - benford).alias("excess"),
    )


_GEO_ORACLE = """
    WITH cust AS (
      SELECT c_custkey,
             (c_custkey * 7919) % 17000 / 100.0 - 85.0 AS lat,
             (c_custkey * 104729) % 35000 / 100.0 - 175.0 AS lon
      FROM customer
    ), supp AS (
      SELECT s_suppkey,
             (s_suppkey * 7919) % 17000 / 100.0 - 85.0 AS lat,
             (s_suppkey * 104729) % 35000 / 100.0 - 175.0 AS lon
      FROM supplier
    ), cand AS (
      SELECT c.c_custkey, s.s_suppkey,
             round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(s.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * pow(sin(radians(s.lon - c.lon) / 2), 2))), 6) AS dist_km
      FROM cust c JOIN supp s
        ON floor(s.lat / 5) BETWEEN floor(c.lat / 5) - 1 AND floor(c.lat / 5) + 1
       AND floor(s.lon / 5) BETWEEN floor(c.lon / 5) - 1 AND floor(c.lon / 5) + 1
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, s_suppkey AS nearest_suppkey, dist_km
    FROM ranked WHERE rn = 1
    """


@query("geo_grid_distance_join", oracle=_GEO_ORACLE)
def geo_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer within a 3×3 grid-cell neighborhood
    — the geohash/S2-bucketed spatial join shape: coordinates (derived
    deterministically from keys; the tables carry none) bucket into 5°
    cells, each customer probes only its own and adjacent cells, and
    haversine + rank runs on that bounded candidate set. The quadratic
    all-pairs distance join this replaces is the spatial analogue of the
    all-token equijoin the prefix-filter lane replaces: at 100 TB the
    cell join's cost is Σ |cell|·|neighborhood|, linear for any bounded
    point density, and the cell key is the shuffle/bucketing target. The
    3×3 bound is the declared semantics (as in any grid index, a probe
    whose true nearest neighbor lies farther than one cell ring reports
    the in-ring minimum — widen the ring to trade cost for radius).
    Ranking tie-breaks on the ROUNDED distance then supplier key, so
    sub-ULP libm differences between engines cannot flip the pick."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 17000 / 100.0 - 85.0).alias("clat"),
        ((F.col("c_custkey") * 104729) % 35000 / 100.0 - 175.0).alias("clon"),
    )
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919) % 17000 / 100.0 - 85.0).alias("slat"),
        ((F.col("s_suppkey") * 104729) % 35000 / 100.0 - 175.0).alias("slon"),
    )
    # customer side explodes into its 9-cell probe neighborhood; the join
    # is then a plain equi-join on the cell key (shuffle- and
    # bucket-friendly), never an inequality theta join
    offsets = F.expr("explode(flatten(transform(sequence(-1,1), i -> transform(sequence(-1,1), j -> struct(i, j)))))")
    cc = c.select(
        "*",
        (F.floor(F.col("clat") / 5)).alias("cell_lat"),
        (F.floor(F.col("clon") / 5)).alias("cell_lon"),
    ).select("*", offsets.alias("o")).select(
        "c_custkey", "clat", "clon",
        (F.col("cell_lat") + F.col("o.i")).alias("cell_lat"),
        (F.col("cell_lon") + F.col("o.j")).alias("cell_lon"),
    )
    ss = s.select(
        "*",
        F.floor(F.col("slat") / 5).alias("cell_lat"),
        F.floor(F.col("slon") / 5).alias("cell_lon"),
    )
    rad = F.radians
    hav = (
        F.pow(F.sin(rad(F.col("slat") - F.col("clat")) / 2), 2)
        + F.cos(rad("clat")) * F.cos(rad("slat"))
        * F.pow(F.sin(rad(F.col("slon") - F.col("clon")) / 2), 2)
    )
    dist = r6(2 * 6371.0 * F.asin(F.sqrt(hav)))
    cand = cc.join(ss, ["cell_lat", "cell_lon"]).select(
        "c_custkey", "s_suppkey", dist.alias("dist_km")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
    )
    return (
        cand.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("s_suppkey").alias("nearest_suppkey"), "dist_km")
    )


@query(
    "txnlog_describe_history",
    oracle="""
    SELECT 0 AS version, 2 AS n_files_live, 2 AS n_added, 0 AS n_removed,
           (SELECT count(*) FROM nation) AS n_rows_live
    UNION ALL
    SELECT 1, 2, 1, 1, (SELECT count(*) FROM nation)
    """,
)
def txnlog_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the log-structured table (table_log.py): one
    row per committed version with the action counts from the log and
    the live row count from actually reading that version's snapshot —
    so the hash certifies both the bookkeeping replay AND that every
    historical snapshot still materializes (time travel does not rot as
    versions accumulate). The per-version file/action counts are
    driver-side metadata (exactly what Delta's DESCRIBE HISTORY serves
    from commit info); the row counts are distributed scans of each
    version's live set. The oracle reconstructs the expected evolution
    from clean nation: both transactions preserve the 25-row state while
    rewriting files — a rewrite-heavy, row-stable history being
    precisely the case where file counts alone would mislead."""
    from .sources import built
    from .table_log import _build_fixture, txnlog_live_files, txnlog_snapshot

    base = built(sf_dir, "txnlog_table", partial(_build_fixture, spark, sf_dir))
    log_dir = os.path.join(base, "_log")
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    pieces = []
    for v in versions:
        with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
            actions = [json.loads(line) for line in fh]
        n_added = sum(1 for a in actions if "add" in a)
        n_removed = sum(1 for a in actions if "remove" in a)
        n_files = len(txnlog_live_files(base, v))
        pieces.append(
            txnlog_snapshot(spark, base, v)
            .agg(F.count(F.lit(1)).alias("n_rows_live"))
            .select(
                F.lit(v).alias("version"),
                F.lit(n_files).alias("n_files_live"),
                F.lit(n_added).alias("n_added"),
                F.lit(n_removed).alias("n_removed"),
                "n_rows_live",
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT c_custkey, c_name,
           c_name AS decrypted,
           (CAST(floor(length(c_name) / 16) AS BIGINT) + 1) * 16 AS n_cipher_bytes
    FROM customer WHERE c_custkey <= 500
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: aes_encrypt/aes_decrypt roundtrip
    over customer names (AES-128-ECB — the deterministic mode, chosen
    here so the ciphertext LENGTH is oracle-checkable; production
    at-rest columns use GCM, whose random IV makes output
    non-deterministic by design and therefore untestable by value).
    The oracle certifies two things without being able to run AES
    itself: the roundtrip is the identity (decrypted = original), and
    the ciphertext framing is exactly PKCS#7 — ⌊len/16⌋+1 blocks of 16
    bytes, checked against the measured length of the real ciphertext.
    The PII-redaction twin (text_pii_redact) destroys; this lane is the
    reversible half of the privacy story (crypto-shredding: drop the
    key, the column is gone). Pure per-row JVM expressions — no shuffle,
    codegen-friendly at any scale."""
    key = "0123456789abcdef"
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    enc = F.aes_encrypt(F.col("c_name"), F.lit(key), F.lit("ECB"))
    return c.select(
        "c_custkey",
        "c_name",
        F.aes_decrypt(enc, F.lit(key), F.lit("ECB")).cast("string").alias("decrypted"),
        F.length(enc).cast("long").alias("n_cipher_bytes"),
    )


_MARKOV_ITERS = 60


def _markov_oracle() -> str:
    """Unrolled power iteration as a CTE chain — the oracle for an
    iterative lane expressed in FULL SQL (the registered iterative lanes
    are otherwise rows-only + pinned): 60 iterations of p·P from uniform
    converge both engines to the same fixed point to well past 6
    decimals."""
    # m/p0 are MATERIALIZED: each p_i references m, and without the hint
    # the optimizer inlines the whole corpus window 60 times — planning
    # alone exceeds minutes; materialized, the chain is 60 joins of
    # |states|-row frames
    parts = [
        "seq AS (SELECT event_type AS cur, lead(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS nxt FROM events)",
        "trans AS (SELECT cur, nxt, count(*) AS c FROM seq "
        "WHERE nxt IS NOT NULL GROUP BY cur, nxt)",
        "m AS MATERIALIZED (SELECT cur, nxt, CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY cur) AS p FROM trans)",
        "p0 AS MATERIALIZED (SELECT cur AS state, 1.0 / (SELECT count(DISTINCT cur) FROM m) AS p "
        "FROM (SELECT DISTINCT cur FROM m))",
    ]
    for i in range(1, _MARKOV_ITERS + 1):
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT m.nxt AS state, sum(p{i-1}.p * m.p) AS p "
            f"FROM p{i-1} JOIN m ON m.cur = p{i-1}.state GROUP BY m.nxt)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT state, round(p, 6) AS stationary_p FROM p{_MARKOV_ITERS}"
    )


@query("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain ("where
    does engagement settle"): transition counts are one corpus-scale
    keyed window + groupBy (the same grain as events_pathing_transitions),
    then the power iteration runs DRIVER-side on the collected
    |states|² matrix — a bounded literal (event-type vocabulary, never
    rows), the documented k-means/BPE discipline for iterative math on
    metadata-sized state. The iteration replays the oracle's recurrence
    exactly (mass entering a state with no outgoing transitions drains,
    as in the SQL join), so after 60 iterations both engines sit on the
    same attractive fixed point and the r6 hash matches — making this
    one of the few ITERATIVE lanes with a full value oracle rather than
    a rows-only pin."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    rows = trans.collect()  # |states|² bounded driver literal
    out_tot: dict[str, int] = {}
    for r in rows:
        out_tot[r.cur] = out_tot.get(r.cur, 0) + r.c
    m = {(r.cur, r.nxt): r.c / out_tot[r.cur] for r in rows}
    states = sorted(out_tot)
    p = {s: 1.0 / len(states) for s in states}
    for _ in range(_MARKOV_ITERS):
        nxt: dict[str, float] = {}
        for (cur, to), prob in m.items():
            if cur in p:
                nxt[to] = nxt.get(to, 0.0) + p[cur] * prob
        p = nxt
    # round SPARK-side with the shared r6 helper (half-away-from-zero, the
    # oracle's SQL round), not Python round() (banker's half-to-even) — a
    # probability landing on a .xxxxxx5 boundary would otherwise mismatch
    return spark.createDataFrame(
        [(s, float(v)) for s, v in sorted(p.items())],
        "state string, raw_p double",
    ).select("state", r6(F.col("raw_p")).alias("stationary_p"))
