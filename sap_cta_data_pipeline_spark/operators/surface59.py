"""§2 round-11 batch GI — Iceberg writer-side schema evolution.

The Iceberg symmetry of batch GF's Delta mergeSchema lane: an append
whose frame carries NEW columns commits a NEW schema (fresh field ids
from ``last-column-id``, the spec's add-column evolution) in the SAME
metadata swap as the snapshot — one atomic version. Old data files are
untouched; the reader serves typed NULLs for fields a file predates
(the name-based missing-column rule the read lane already pins in
``scan_iceberg_schema_evolution``).

Additive only, by design: a frame column whose TYPE conflicts with the
declared field refuses loudly. Iceberg does define lossless promotions
(int→long, float→double) — that widening lane is the Delta batch GH
twin and is refused here with the promotion named, so the failure mode
is a pointer, not a mystery. Field ids make this safe where name-based
systems break: a re-added column gets a FRESH id, never inheriting a
dropped predecessor's data.

Scale: evolution is one metadata.json swap — new schemas list entry,
bumped current-schema-id/last-column-id. The append itself stays one
staged parquet + one manifest. Nothing about the table's size appears
anywhere in the cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .iceberg_reader import (
    _current_schema,
    _entry,
    _iceberg_fields_of,
    _load_metadata,
    _manifest,
    _manifests,
    _next_ids,
    _snapshot,
    _tip,
    commit as iceberg_commit,
    iceberg_append,
    iceberg_snapshot,
)
from .sources import built


def iceberg_append_evolved(
    spark: SparkSession, base: str, df: DataFrame, file_name: str
) -> int:
    """Append ``df`` to an EXISTING Iceberg table, evolving the schema
    additively when the frame carries new columns (see module
    docstring). Returns the committed metadata version. Like
    iceberg_reader.iceberg_append, a lost commit slot rebuilds the
    snapshot (and re-validates the evolution) on the fresh tip."""
    from .lakehouse_interop import _stage_single_parquet

    _, tip_md = _tip(os.path.join(base, "metadata"))
    if tip_md is None:
        raise FileNotFoundError(
            f"no Iceberg table under {base} — evolved append targets an "
            "existing table (create with iceberg_append first)"
        )

    frame_fields = _iceberg_fields_of(df.schema)

    def _evolve_plan(prev: dict) -> tuple[list[dict], list[dict], int]:
        """Validate the frame against ``prev``'s schema; the evolved
        column list. Raises the type-conflict refusal."""
        fields = [dict(f) for f in _current_schema(prev)]
        by_name = {f["name"]: f for f in fields}
        last_col = prev.get("last-column-id", len(fields))
        new_cols: list[dict] = []
        for ff in frame_fields:
            tgt = by_name.get(ff["name"])
            if tgt is None:
                last_col += 1
                new_cols.append(
                    {
                        "id": last_col,  # FRESH id — never reuse a dropped one
                        "name": ff["name"],
                        "required": False,  # new columns must be optional:
                        # existing rows have no value for them
                        "type": ff["type"],
                    }
                )
            elif tgt["type"] != ff["type"]:
                promo = (
                    " (a lossless promotion — the typeWidening lane; this "
                    "additive-evolution writer does not promote)"
                    if (tgt["type"], ff["type"])
                    in {("int", "long"), ("float", "double")}
                    else ""
                )
                raise ValueError(
                    f"schema evolution: appended column {ff['name']!r} has "
                    f"Iceberg type {ff['type']} but the table declares "
                    f"{tgt['type']}{promo}; cast the frame explicitly"
                )
        return fields, new_cols, last_col

    # validate against the current tip BEFORE staging any data: a refusal
    # must not leave an orphaned file under data/ that no manifest
    # references (the Delta and Hudi lanes validate first)
    _evolve_plan(tip_md)
    data_path = os.path.join(base, "data", file_name)
    os.makedirs(os.path.dirname(data_path), exist_ok=True)
    _stage_single_parquet(df, data_path)
    n_rows = df.count()

    def build(_cur_v: int, prev: dict) -> dict:
        # re-validated on every attempt: the schema may have changed
        # under contention into a conflict
        fields, new_cols, last_col = _evolve_plan(prev)

        md = dict(prev)
        if new_cols:
            # the evolved schema is a NEW entry (old snapshots keep
            # addressing their schema-id); current-schema-id moves in
            # the SAME metadata swap as the snapshot — one atomic commit
            schema_id = (
                max(s.get("schema-id", 0) for s in prev.get("schemas", []))
                + 1
            )
            md["schemas"] = list(prev.get("schemas", [])) + [
                {
                    "type": "struct",
                    "schema-id": schema_id,
                    "fields": fields + new_cols,
                }
            ]
            md["current-schema-id"] = schema_id
            md["last-column-id"] = last_col
        seq, snap_id = _next_ids(md)
        m = _manifest(
            base, md, f"m-{snap_id}.avro",
            [_entry(base, file_name, 0, n_rows, seq=seq)], 0, snap_id, seq,
        )
        return _snapshot(base, md, _manifests(base, md) + [m], "append")

    try:
        return iceberg_commit(base, build)
    except Exception:
        # refusal or give-up: no manifest references the staged file
        try:
            os.remove(data_path)
        except OSError:
            pass
        raise


def _build_evolved_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        iceberg_append(spark, base, n.filter("n_nationkey < 12"), "a0.parquet")
        hi = n.filter("n_nationkey >= 12").withColumn(
            "n_name_len", F.length("n_name").cast("int")
        )
        iceberg_append_evolved(spark, base, hi, "a1.parquet")

    return built(sf_dir, "iceberg_write_evolve", build)


@query(
    "iceberg_append_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_nationkey >= 12
                THEN CAST(length(n_name) AS INT) END AS n_name_len
    FROM nation
    """,
)
def iceberg_append_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Writer-side Iceberg schema evolution round-trip: the second
    append carries a NEW ``n_name_len`` column — the evolved schema
    (fresh field id from last-column-id) and the snapshot commit in ONE
    metadata swap; the pre-evolution file reads back with typed NULLs.
    Value-oracled cell-by-cell through the repo's own snapshot reader.
    Fresh-id allocation, one-swap atomicity, the type-conflict refusal
    (with the promotion pointer), and old-snapshot schema addressing
    are pinned in tests/test_surface59.py."""
    base = _build_evolved_fixture(spark, sf_dir)
    return iceberg_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey", "n_name_len"
    )
