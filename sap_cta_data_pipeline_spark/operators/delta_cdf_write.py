"""§2 round-8 batch ED — Change Data Feed WRITE side + CDC replication.

Round 7 closed the read side (scan_delta_cdf prefers recorded ``cdc``
actions over the derived feed); this batch closes the loop the same way
the DV writer closed deletion vectors:

- ``delta_update_where_cdf`` / ``delta_delete_where_cdf``: copy-on-write
  UPDATE/DELETE that, besides the remove+add rewrite, WRITE the
  ``_change_data`` parquet (update_preimage + update_postimage rows, or
  delete rows) and commit it as a ``cdc`` action with
  ``dataChange: false`` — exactly what the protocol requires so
  downstream CDF readers see 2·k change rows instead of the derived
  N-delete+N-insert rewrite noise.
- ``delta_update_cdf_emit``: round-trip lane — update through the
  emitting writer, read the version's feed back through the house CDF
  reader, hash-match the pre/post images.
- ``delta_cdf_replicate``: the downstream half of CDC — replay the full
  feed onto a replica with one latest-wins groupBy (version, then
  postimage-over-preimage rank) and drop deletes; the replica equals
  the source table's final state (the invariant that makes CDF a
  replication protocol, not just an audit log).

Round-9 batch FC adds ``delta_merge_cdf`` / ``delta_merge_cdf_emit`` —
the MERGE member of the emitting-DML family (update images + insert
change rows in one cdc action), completing UPDATE/DELETE/MERGE write
coverage of the change feed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .delta_reader import (
    LogState,
    _add,
    _cdc,
    _commit,
    _metadata,
    _protocol,
    _remove,
    _stage_single_parquet,
    commit,
    delta_table_changes,
    log_state,
)
from .sources import built


def _cdf_state(spark: SparkSession, base: str) -> LogState:
    """The tip state of a table that records its change data feed."""
    st = log_state(spark, base)
    assert (st.metadata.get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"
    return st


def _by_file_name(st: LogState) -> dict[str, dict]:
    """file name -> live add (the writers tag rows by file name)."""
    return {os.path.basename(p): a for p, a in st.adds.items()}


def _rewrite_with_changes(
    spark: SparkSession,
    base: str,
    st: LogState,
    predicate: str,
    change_frames: list[DataFrame],
    new_rows_of,
) -> int:
    """Shared CoW body: find files hit by ``predicate`` in the snapshot
    ``st``, rewrite each without/with transformed matches via
    ``new_rows_of``, stage the change frames under ``_change_data/``,
    commit removes+adds+cdc against that snapshot."""
    tagged = spark.read.parquet(*[os.path.join(base, p) for p in st.adds]).select(
        "*",
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("__file"),
    )
    hit = (
        tagged.filter(predicate).select("__file").distinct().collect()
    )  # distinct file names only — file-count bounded
    hit_files = sorted(r["__file"] for r in hit)
    version = st.version + 1
    by_name = _by_file_name(st)
    actions = []
    for i, fname in enumerate(hit_files):
        old = tagged.filter(F.col("__file") == fname)
        # Null-safe complement: SQL DELETE/UPDATE keep rows whose
        # condition is not TRUE (a NULL predicate keeps the row), so the
        # survivor set is ¬coalesce(pred, false) — NOT(pred) alone would
        # silently drop NULL-evaluating rows from the rewritten file.
        survivors = old.filter(
            ~F.coalesce(F.expr(predicate), F.lit(False))
        ).drop("__file")
        new_rows = new_rows_of(old.filter(predicate).drop("__file"))
        rel = f"rw-{version}-{i}.parquet"
        _stage_single_parquet(
            survivors.unionByName(new_rows) if new_rows is not None else survivors,
            os.path.join(base, rel),
        )
        actions += [_remove(by_name[fname]), _add(base, rel)]
    cdc_rel = f"_change_data/cdc-{version}.parquet"
    cdc = change_frames[0]
    for c in change_frames[1:]:
        cdc = cdc.unionByName(c)
    _stage_single_parquet(cdc, os.path.join(base, cdc_rel))
    actions.append(_cdc(base, cdc_rel))
    return commit(base, actions, st.version)


def delta_update_where_cdf(
    spark: SparkSession, base: str, predicate: str, set_map: dict[str, str]
) -> int:
    """CoW UPDATE emitting the change feed: matched rows appear in the
    cdc file twice (update_preimage, then update_postimage with the SET
    applied); the rewrite's remove+add carry dataChange true as usual.
    Returns the committed version."""
    st = _cdf_state(spark, base)
    full = spark.read.parquet(*[os.path.join(base, p) for p in st.adds])
    matched = full.filter(predicate)

    def _apply(df: DataFrame) -> DataFrame:
        # All SET expressions evaluate against the PRE-update row (SQL
        # UPDATE semantics): one simultaneous select, never chained
        # withColumn, so `SET a = b, b = a` swaps instead of copying.
        upd = {c: F.expr(e) for c, e in set_map.items()}
        return df.select(
            *[upd.get(c, F.col(c)).alias(c) for c in df.columns]
        )

    pre = matched.withColumn("_change_type", F.lit("update_preimage"))
    post = _apply(matched).withColumn(
        "_change_type", F.lit("update_postimage")
    )
    return _rewrite_with_changes(spark, base, st, predicate, [pre, post], _apply)


def delta_delete_where_cdf(
    spark: SparkSession, base: str, predicate: str
) -> int:
    """CoW DELETE emitting the change feed: matched rows appear once
    with _change_type = 'delete'."""
    st = _cdf_state(spark, base)
    full = spark.read.parquet(*[os.path.join(base, p) for p in st.adds])
    dels = full.filter(predicate).withColumn("_change_type", F.lit("delete"))
    return _rewrite_with_changes(
        spark, base, st, predicate, [dels], lambda _matched: None
    )


def _create_cdf_table(base: str, o: DataFrame) -> None:
    """Version 0 of a CDF-enabled table holding ``o`` as one file."""
    _stage_single_parquet(o, os.path.join(base, "seed.parquet"))
    _commit(
        os.path.join(base, "_delta_log"),
        0,
        [
            _protocol(1, 4),
            _metadata(
                schema_json=o.schema.jsonValue(),
                configuration={"delta.enableChangeDataFeed": "true"},
            ),
            _add(base, "seed.parquet"),
        ],
    )


_SUBSET = "o_orderkey % 31 = 0"


def _cdf_table(spark: SparkSession, sf_dir: str) -> str:
    """Shared 3-version CDF-enabled fixture built through the emitting
    writers: v0 INSERT the orders subset, v1 UPDATE (+10 on even keys),
    v2 DELETE keys divisible by 3."""

    def build(base: str) -> None:
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(_SUBSET)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
        )
        _create_cdf_table(base, o)
        delta_update_where_cdf(
            spark,
            base,
            "o_orderkey % 2 = 0",
            {"o_totalprice": "o_totalprice + 10"},
        )
        delta_delete_where_cdf(spark, base, "o_orderkey % 3 = 0")

    return built(sf_dir, "delta_cdf_write", build)


@query(
    "delta_update_cdf_emit",
    oracle=f"""
    WITH sub AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE {_SUBSET} AND o_orderkey % 2 = 0
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus,
           'update_preimage' AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM sub
    UNION ALL
    SELECT o_orderkey, o_totalprice + 10, o_orderstatus,
           'update_postimage', CAST(1 AS BIGINT)
    FROM sub
    """,
)
def delta_update_cdf_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-with-CDF round-trip: the emitting writer rewrites the hit
    files copy-on-write AND records the change file; reading version
    1's feed through the house CDF reader returns exactly 2·k rows —
    each matched row as its update_preimage and its update_postimage —
    not the rewrite's N-delete+N-insert noise (the distinction the
    reader's prefer-cdc rule exists for; pinned against the derived
    form in tests).

    Scale: the writer adds ONE map-side pass over the matched rows (the
    change frame) to the update's existing probe + rewrite — change
    volume is O(matched), never O(table), which is what makes CDF
    cheaper than diffing snapshots downstream."""
    base = _cdf_table(spark, sf_dir)
    return delta_table_changes(spark, base, 1, 1)


@query(
    "delta_cdf_replicate",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 10
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE {_SUBSET} AND o_orderkey % 3 <> 0
    """,
)
def delta_cdf_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replication: replay the WHOLE feed (v0 inserts, v1 update
    images, v2 deletes) onto a replica with one latest-wins groupBy per
    key — rank change rows by (_commit_version, postimage ≻ insert ≻
    preimage/delete), keep the winner, drop keys whose winner is a
    delete. The replica must equal the source's final snapshot (also
    asserted directly against delta_snapshot in tests) — the invariant
    that makes a change feed a REPLICATION protocol rather than an
    audit trail.

    Scale: replay is ONE keyed shuffle over change rows (the
    cdc_latest_by_key shape) regardless of how many versions the feed
    spans; change volume, not table volume, prices the pipeline."""
    base = _cdf_table(spark, sf_dir)
    feed = delta_table_changes(spark, base, 0, None)
    rank = F.when(F.col("_change_type") == "update_postimage", 2).when(
        F.col("_change_type") == "insert", 1
    ).otherwise(0)
    latest = (
        feed.withColumn("__rk", F.struct(F.col("_commit_version"), rank.alias("r")))
        .groupBy("o_orderkey")
        .agg(
            F.max_by("o_totalprice", "__rk").alias("o_totalprice"),
            F.max_by("o_orderstatus", "__rk").alias("o_orderstatus"),
            F.max_by("_change_type", "__rk").alias("__ct"),
        )
        .filter(~F.col("__ct").isin("delete", "update_preimage"))
        .drop("__ct")
    )
    return latest.select("o_orderkey", "o_totalprice", "o_orderstatus")


# ----------------------------------------- round 9 batch FC: MERGE + CDF


def delta_merge_cdf(
    spark: SparkSession,
    base: str,
    source: DataFrame,
    on: str,
    update_cols: list[str],
) -> int:
    """MERGE INTO (WHEN MATCHED UPDATE SET update_cols / WHEN NOT
    MATCHED INSERT *) that also RECORDS the change feed: matched rows
    emit their update_preimage/update_postimage pair, inserted rows emit
    ``insert`` change rows — all in one ``_change_data`` parquet
    committed as a ``cdc`` action alongside the rewrite's removes/adds,
    so a downstream CDF consumer sees exactly 2·matched + inserted
    change rows instead of whole-file rewrite noise. Source must be
    unique on ``on`` (Delta's multiple-match error, as in
    delta_dml.delta_merge_into); a source row carrying NULL in an update
    column SETS NULL (match-gated when, never coalesce). Returns the
    committed version.

    Scale: the same probe + per-hit-file rewrite envelope as the plain
    MERGE; the change frame adds one map-side pass over matched+inserted
    rows — O(changed), never O(table)."""
    st = _cdf_state(spark, base)
    if source.groupBy(on).count().filter("count > 1").limit(1).count() > 0:
        raise ValueError(
            f"MERGE source has duplicate rows on merge key {on!r}"
        )
    tgt_cols = [
        c
        for c in spark.read.parquet(os.path.join(base, sorted(st.adds)[0])).columns
    ]
    src = source.select(*tgt_cols)
    tagged = spark.read.parquet(*[os.path.join(base, p) for p in st.adds]).select(
        "*",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "__file"
        ),
    )
    keys = src.select(F.col(on).alias("__k"))
    hit = (
        tagged.join(keys, tagged[on] == keys["__k"], "left_semi")
        .select("__file")
        .distinct()
        .collect()
    )  # file names only — file-count bounded
    hit_files = sorted(r["__file"] for r in hit)
    src_upd = src.select(
        F.col(on),
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__src_{c}") for c in update_cols],
    )

    def _apply(df: DataFrame) -> DataFrame:
        joined = df.join(src_upd, on, "left")
        return joined.select(
            *[
                (
                    F.when(
                        F.coalesce(F.col("__matched"), F.lit(False)),
                        F.col(f"__src_{c}"),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in update_cols
                    else F.col(c)
                )
                for c in tgt_cols
            ]
        )

    matched = tagged.drop("__file").join(keys, F.col(on) == F.col("__k"), "left_semi")
    inserts = src.join(
        tagged.select(F.col(on).alias("__k")).distinct(),
        src[on] == F.col("__k"),
        "left_anti",
    ).select(*tgt_cols)
    pre = matched.withColumn("_change_type", F.lit("update_preimage"))
    post = _apply(matched).withColumn("_change_type", F.lit("update_postimage"))
    ins_changes = inserts.withColumn("_change_type", F.lit("insert"))

    version = st.version + 1
    by_name = _by_file_name(st)
    actions: list[dict] = [
        {"commitInfo": {"operation": "MERGE", "predicate": f"{on} = source.{on}"}}
    ]
    for i, fname in enumerate(hit_files):
        old = tagged.filter(F.col("__file") == fname).drop("__file")
        survivors = old.join(keys, old[on] == keys["__k"], "left_anti")
        rewritten = survivors.unionByName(
            _apply(old.join(keys, old[on] == keys["__k"], "left_semi"))
        )
        rel = f"mrgcdf-{version}-{i}.parquet"
        _stage_single_parquet(rewritten, os.path.join(base, rel))
        actions += [_remove(by_name[fname]), _add(base, rel)]
    ins_rel = f"mrgcdf-{version}-ins.parquet"
    _stage_single_parquet(inserts, os.path.join(base, ins_rel))
    actions.append(_add(base, ins_rel))
    cdc_rel = f"_change_data/cdc-{version}.parquet"
    cdc = pre.unionByName(post).unionByName(ins_changes)
    _stage_single_parquet(cdc, os.path.join(base, cdc_rel))
    actions.append(_cdc(base, cdc_rel))
    return commit(base, actions, st.version)


_MRG_SUBSET = "o_orderkey % 37 = 0"


@query(
    "delta_merge_cdf_emit",
    oracle=f"""
    WITH sub AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE {_MRG_SUBSET}
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus,
           'update_preimage' AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM sub WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice + 5, o_orderstatus,
           'update_postimage', CAST(1 AS BIGINT)
    FROM sub WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus,
           'insert', CAST(1 AS BIGINT)
    FROM sub WHERE o_orderkey % 5 = 0
    """,
)
def delta_merge_cdf_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-with-CDF round-trip: one MERGE (update every even key's
    price +5, insert shifted copies of keys ≡ 0 mod 5) through the
    emitting writer, then read version 1's feed back through the house
    CDF reader — exactly 2·matched update images + the inserted rows,
    certifying that the cdc action is authoritative over the rewrite's
    derived add/remove noise for ALL THREE change kinds in one commit
    (update pre/post + insert). Completes the CDF write surface:
    UPDATE (batch ED), DELETE (batch ED), MERGE (this lane).

    Scale: change volume is O(matched + inserted); the probe and
    rewrites are the plain MERGE's file-bounded envelope."""

    def build(base: str) -> None:
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(_MRG_SUBSET)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
        )
        _create_cdf_table(base, o)
        src = o.filter("o_orderkey % 2 = 0").withColumn(
            "o_totalprice", F.col("o_totalprice") + 5
        ).unionByName(
            o.filter("o_orderkey % 5 = 0").withColumn(
                "o_orderkey", F.col("o_orderkey") + 1000000000
            )
        )
        delta_merge_cdf(spark, base, src, "o_orderkey", ["o_totalprice"])

    base = built(sf_dir, "delta_merge_cdf", build)
    return delta_table_changes(spark, base, 1, 1)
