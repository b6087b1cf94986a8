"""§2 round-8 batch DF — Avro source, SQL-surface equivalences V, and
training-pipeline prep (deterministic corpus shuffle, RAG chunking,
Poisson-bootstrap CIs).

Every key carries a full DuckDB value oracle; the two hash-seeded lanes
(shuffle, bootstrap) use the house engine-portable integer hash
arithmetic (Knuth multiplicative hash mod a prime — split_train_test's
discipline), never rand().
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table as t
from ..functions.parity import bi, r6
from ..registry import query
from .sources import built

_KNUTH = 2654435761  # 2^32 / φ — the shared portable-hash constant
_HASH_P = 1000003  # prime modulus for [0,1) uniforms


# ------------------------------------------------------------ avro source


def _build_avro_fixture(spark: SparkSession, sf_dir: str) -> str:
    """nation split across TWO deflate-coded Avro container files written
    by functions/avro_codec (the writer half already certified by the
    Iceberg manifests); plus a non-avro decoy the glob must not match."""
    from ..functions.avro_codec import write_container

    def build(base: str) -> None:
        n = t(spark, sf_dir, "nation")
        schema = {
            "type": "record",
            "name": "nation",
            "fields": [
                {"name": "n_nationkey", "type": ["null", "int"], "default": None},
                {"name": "n_name", "type": ["null", "string"], "default": None},
                {"name": "n_regionkey", "type": ["null", "int"], "default": None},
            ],
        }
        rows = [
            {
                "n_nationkey": r.n_nationkey,
                "n_name": r.n_name,
                "n_regionkey": r.n_regionkey,
            }
            for r in sorted(n.collect(), key=lambda r: r.n_nationkey)
        ]
        os.makedirs(base, exist_ok=True)
        write_container(
            os.path.join(base, "part-0.avro"), schema, rows[:12], codec="deflate"
        )
        write_container(
            os.path.join(base, "part-1.avro"), schema, rows[12:], codec="deflate"
        )
        with open(os.path.join(base, "decoy.txt"), "w") as fh:
            fh.write("not avro")

    return built(sf_dir, "avro_source", build)


def avro_scan(spark: SparkSession, path_glob: str, schema: T.StructType) -> DataFrame:
    """Distributed Avro container scan with zero external packages:
    binaryFile lists + ships whole containers to executors, ONE
    Arrow-batched mapInPandas decodes blocks (deflate + binary records)
    via functions/avro_codec — payloads never pass through the driver.
    The right granularity for Avro at scale: containers are
    block-compressed and non-splittable without sync-marker scanning, so
    file-parallel decode matches what production Avro sources do."""
    cols = [f.name for f in schema.fields]

    def _decode(batches):
        import pandas as pd

        from ..functions.avro_codec import read_container_bytes

        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                _, records = read_container_bytes(row["content"], row["path"])
                frames.append(pd.DataFrame.from_records(records, columns=cols))
            yield pd.concat(frames) if frames else pd.DataFrame(columns=cols)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path_glob)
        .select("path", "content")
        .mapInPandas(_decode, schema=schema)
    )


@query(
    "source_avro_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro as a SOURCE format (round 8): two deflate containers written
    by the repo's own codec, read back DISTRIBUTED (binaryFile +
    mapInPandas block decode, executor-side); the pathGlobFilter keeps
    the non-avro decoy invisible. Identity oracle certifies writer →
    container framing → deflate → binary-record decode end to end."""
    base = _build_avro_fixture(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return avro_scan(spark, base, schema)


# ------------------------------------------------- SQL-surface equivalences


@query(
    "win_lag_ignore_nulls",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'view' THEN NULL ELSE round(value, 2) END AS v
      FROM events WHERE user_id % 37 = 0
    )
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_v
    FROM e
    """,
)
def win_lag_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lag(x) IGNORE NULLS`` — the last PRECEDING non-null value, the
    sensor/LOCF shape. Spark spells it natively on lag; DuckDB 1.0 has
    no IGNORE NULLS on lag, so the oracle uses the textbook equivalence
    ``last_value(x IGNORE NULLS)`` over the 1-preceding frame — proving
    the two formulations identical is the point of the key. Partitioned
    window only (user_id carries the parallelism)."""
    t(spark, sf_dir, "events").where(F.col("user_id") % 37 == 0).createOrReplaceTempView(
        "__lag_in_events"
    )
    return spark.sql(
        """
        WITH e AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'view' THEN NULL
                      ELSE round(value, 2) END AS v
          FROM __lag_in_events
        )
        SELECT event_id, user_id, v,
               lag(v) IGNORE NULLS OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_v
        FROM e
        """
    )


@query(
    "agg_product",
    oracle="""
    WITH d AS (
      SELECT DISTINCT l_returnflag,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_factors,
           round(product(1.0 + disc_pct / 100.0), 6) AS growth_factor
    FROM d GROUP BY l_returnflag
    """,
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT aggregation parity (Spark ``F.product`` ↔ DuckDB
    ``product()``): compound growth factor over the DISTINCT discount
    levels per return flag. Floats are quantized to integer percent
    FIRST so both engines multiply the identical ≤11-element factor set
    — float products are order-sensitive, but 11 factors differ by ulps
    only, retired by r6 (the distinct-first shape is also the scale
    story: product over a bounded level set, never over raw rows)."""
    d = (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            bi(F.round(F.col("l_discount") * 100, 0)).alias("disc_pct"),
        )
        .distinct()
    )
    return d.groupBy("l_returnflag").agg(
        bi(F.count(F.lit(1))).alias("n_factors"),
        r6(F.product(1.0 + F.col("disc_pct") / 100.0)).alias("growth_factor"),
    )


@query(
    "fn_interval_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS base_ts,
           CAST(o_orderdate + INTERVAL 1 MONTH AS VARCHAR) AS plus_month,
           CAST(o_orderdate + INTERVAL 1 MONTH + INTERVAL 2 DAY
                + INTERVAL 90 SECOND AS VARCHAR) AS plus_mixed,
           CAST(o_orderdate - INTERVAL 3 MONTH AS VARCHAR) AS minus_quarter
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic parity, including the month-end
    CLAMP both engines apply (Jan 31 + 1 month → Feb 29/28, never Mar
    2-3): mixed month+day+second intervals via make_interval. Output as
    VARCHAR — the cross-engine timestamp-hash discipline."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 97 == 0)
    base = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        base.cast("string").alias("base_ts"),
        F.try_add(base, F.make_interval(F.lit(0), F.lit(1))).cast("string").alias(
            "plus_month"
        ),
        F.try_add(
            base,
            F.make_interval(
                F.lit(0), F.lit(1), F.lit(0), F.lit(2), F.lit(0), F.lit(0), F.lit(90)
            ),
        )
        .cast("string")
        .alias("plus_mixed"),
        F.try_add(base, F.make_interval(F.lit(0), F.lit(-3))).cast("string").alias(
            "minus_quarter"
        ),
    )


# ------------------------------------------------- training-pipeline prep


@query(
    "corpus_shuffle_deterministic",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, (doc_id * {_KNUTH}) % {_HASH_P} AS hkey
      FROM documents
    )
    SELECT doc_id, hkey,
           CAST(hkey % 8 AS BIGINT) AS shard,
           CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT)
             AS global_pos
    FROM h
    """,
)
def corpus_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every epoch-0 data
    loader needs the corpus in a reproducible pseudo-random order, and
    rand() is not reproducible across engines or retries. Order key =
    Knuth multiplicative hash of doc_id mod a prime (the
    split_train_test discipline); shard = hkey mod n_shards; the GLOBAL
    position comes from the range-partitioned ranks helper — no
    single-partition window anywhere (the audit's class-3 trap). At
    100 TB this is one repartitionByRange + local sort, the exact shape
    of a distributed shuffle-write. doc_id·KNUTH stays in int64 up to
    ~3.5e9 docs — the documented cap."""
    from ..functions.ranks import with_global_row_number

    h = t(spark, sf_dir, "documents").select(
        "doc_id", ((F.col("doc_id") * _KNUTH) % _HASH_P).alias("hkey")
    )
    ranked = with_global_row_number(
        h, [F.col("hkey"), F.col("doc_id")], "global_pos"
    )
    return ranked.select(
        "doc_id",
        "hkey",
        bi(F.col("hkey") % 8).alias("shard"),
        bi(F.col("global_pos")).alias("global_pos"),
    )


_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # chunk stride (CHUNK - STRIDE = 8-token overlap)
_MAX_DOC_TOKENS = 100_000  # documented cap: max tokens per document the
# chunker supports (a pipeline parameter — the oracle's constant range
# bound; docs beyond it would need a pre-split pass)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
      FROM documents
    ), starts AS (
      SELECT doc_id, l, len(l) AS n,
             unnest(list_filter(range(0, {_MAX_DOC_TOKENS}, {_STRIDE}),
                                s -> s < len(l))) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s // {_STRIDE} AS BIGINT) AS chunk_id,
           CAST(least(n - s, {_CHUNK}) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(l, s + 1, least(s + {_CHUNK}, n)), ' ')
             AS chunk_text
    FROM starts
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding-prep shape
    (chunk 32, stride 24 ⇒ 8-token overlap so no boundary sentence is
    lost to both neighbors). All in-row: one split, one start-index
    enumeration, one slice per chunk — embarrassingly parallel, output
    linear in token count × overlap factor. Short tails emit as partial
    chunks (the standard contract)."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    d = t(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("l"), F.size(toks).alias("n")
    )
    n_starts = F.floor((F.greatest(F.col("n"), F.lit(1)) - 1) / _STRIDE).cast("int")
    starts = F.filter(
        F.transform(F.sequence(F.lit(0), n_starts), lambda i: i * _STRIDE),
        lambda s: s < F.col("n"),
    )
    e = d.select("doc_id", "l", "n", F.explode(starts).alias("s"))
    return e.select(
        "doc_id",
        bi(F.col("s") / _STRIDE).alias("chunk_id"),
        bi(F.least(F.col("n") - F.col("s"), F.lit(_CHUNK))).alias("n_tokens"),
        F.concat_ws(" ", F.slice("l", F.col("s") + 1, _CHUNK)).alias("chunk_text"),
    )


_N_BOOT = 40  # bootstrap replicates
_BOOT_SALT = 40503  # replicate salt (Knuth lo half)
#: Poisson(1) inverse-CDF thresholds (cumulative probs for k = 0..5);
#: a uniform u maps to the weight k whose cumulative bucket holds it.
_POIS_CDF = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406)


def _pois_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


@query(
    "ml_bootstrap_poisson_ci",
    oracle=f"""
    WITH reps AS (
      SELECT b,
             sum(w * cents) AS s,
             sum(w) AS m
      FROM (
        SELECT b,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               {_pois_weight_sql(f"((o_orderkey * {_KNUTH} + b * {_BOOT_SALT}) % {_HASH_P}) / {_HASH_P}.0")} AS w
        FROM orders, (SELECT unnest(range(0, {_N_BOOT})) AS b)
      ) GROUP BY b
    ), means AS (
      SELECT list_sort(list(round(s / m / 100.0, 4))) AS ms FROM reps
    )
    SELECT CAST({_N_BOOT} AS BIGINT) AS n_replicates,
           round(list_sum(ms) / {_N_BOOT}, 6) AS boot_mean,
           ms[2] AS ci_lo,
           ms[{_N_BOOT - 1}] AS ci_hi
    FROM means
    """,
)
def ml_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value via the
    POISSON bootstrap — the only bootstrap that works at 100 TB:
    classical resampling needs n draws WITH replacement per replicate
    (a global shuffle per replicate); Poisson(1) weights are an i.i.d.
    per-row approximation whose replicate sizes concentrate at n, so
    ALL B replicates fold in ONE scan as 2·B sufficient-statistic
    aggregates (no explode, no row blowup — the Google/Spark production
    pattern). Weights are DETERMINISTIC: u = portable-hash(orderkey, b),
    mapped through the Poisson(1) inverse CDF — identical arithmetic in
    both engines, so the CI is value-oracled exactly. Replicate means
    quantize to cents (exact BIGINT sums) then round r4 BEFORE the
    order statistics so the CI bounds can't flip on float dust. CI =
    2.5%/97.5% order statistics of the B=40 sorted replicate means."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")

    def w(b: int):
        u = ((F.col("o_orderkey") * _KNUTH + F.lit(b * _BOOT_SALT)) % _HASH_P) / float(
            _HASH_P
        )
        expr = F.lit(6)
        for k in range(len(_POIS_CDF) - 1, -1, -1):
            expr = F.when(u < _POIS_CDF[k], k).otherwise(expr)
        return expr

    aggs = []
    for b in range(_N_BOOT):
        wb = w(b)
        aggs.append(F.sum(wb * cents).alias(f"s_{b}"))
        aggs.append(F.sum(wb).alias(f"m_{b}"))
    stats = o.agg(*aggs)
    means = F.array_sort(
        F.array(
            *[
                F.round(F.col(f"s_{b}") / F.col(f"m_{b}") / 100.0, 4)
                for b in range(_N_BOOT)
            ]
        )
    )
    return stats.select(
        bi(F.lit(_N_BOOT)).alias("n_replicates"),
        r6(
            F.aggregate(means, F.lit(0.0), lambda a, x: a + x) / _N_BOOT
        ).alias("boot_mean"),
        F.element_at(means, 2).alias("ci_lo"),
        F.element_at(means, _N_BOOT - 1).alias("ci_hi"),
    )
