"""§2 round-11 batch GF — writer-side schema evolution.

Round-10 verdict missing #1: every READ path handled schema evolution
(scan_delta_schema_evolution, delta_alter_add_column, the Iceberg/Hudi
twins) but no WRITE lane evolved a schema — a daily-upsert user hits
"new source column" within weeks. This batch closes the write half with
Delta's two standard answers:

- **mergeSchema append** (``delta_append_merge_schema``): append a
  frame whose schema is a superset of the table's — new columns are
  auto-added to the table schema as NULLABLE fields via a widened
  metaData action riding the SAME commit as the add (one atomic
  version); columns the frame lacks simply read back as typed NULLs
  from the new file (the reader's existing missing-column rule). A
  frame column whose type CONFLICTS with the declared type refuses
  loudly — ``mergeSchema`` adds columns, it never rewrites a type.
- **MERGE WITH SCHEMA EVOLUTION** (``delta_merge_into(...,
  schema_evolution=True)``, delta_dml.py): new source columns join the
  target schema AND the UPDATE SET (a matched row takes the source's
  value — it has no pre-existing one); target columns missing from the
  source are NULL-filled for INSERT * and keep target values on
  matched rows; same type-conflict refusal; column-mapping tables
  refuse (new fields need writer-allocated physical names/field ids).

Scale: evolution itself is METADATA — one widened schemaString in the
commit, no existing file rewritten, ever (old files serve typed NULLs
for new columns at read time). The data cost stays exactly the
underlying append/MERGE cost; this is why additive evolution is the
only kind a 100 TB table can afford, and why type REWRITES refuse.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import query
from .delta_reader import (
    _add,
    _commit,
    _metadata,
    _project,
    _stage_single_parquet,
    commit,
    delta_snapshot,
    delta_state,
    log_state,
)
from .lakehouse_interop import delta_append_commit
from .sources import built


#: Delta ``typeWidening`` supported changes (spec: the feature allows
#: exactly the LOSSLESS primitive widenings — a reader upcasts old
#: files' values; nothing is rewritten). Keyed by Spark typeName().
_WIDENINGS = {
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("byte", "double"),
    ("short", "integer"),
    ("short", "long"),
    ("short", "double"),
    ("integer", "long"),
    ("integer", "double"),
    ("float", "double"),
}


def delta_append_merge_schema(
    spark: SparkSession, base: str, df: DataFrame, file_name: str
) -> None:
    """Append ``df`` with ``mergeSchema`` semantics (see module
    docstring). One atomic commit: [widened metaData]? + add.

    When the table enables ``delta.enableTypeWidening``, a
    frame column whose type is a SUPPORTED LOSSLESS WIDENING of the
    declared type (byte→short→int→long, int/float→double — the
    typeWidening feature's matrix) updates the declared type instead of
    refusing; the field's schemaString metadata records the change
    (``delta.typeChanges``) and NO existing file is rewritten — readers
    upcast old files' values under the widened read schema. Narrowings
    and unrelated changes still refuse; without the feature EVERY type
    change refuses. The commit is read-dependent on
    the snapshot whose schema it widened (``delta_reader.commit``)."""
    st = log_state(spark, base)
    _live, schema_string, part_cols, config, _dvs = _project(st)
    if part_cols:
        raise NotImplementedError(
            "mergeSchema append on a partitioned table needs partition "
            "routing on top of evolution — use delta_append_partitioned "
            "for the routing and evolve separately"
        )
    if (config or {}).get("delta.columnMapping.mode", "none") != "none":
        raise ValueError(
            "mergeSchema on a column-mapping table requires allocating "
            "physical names + field ids for the new columns — a "
            "writer-protocol surface this engine refuses rather than "
            "approximates"
        )
    schema = T.StructType.fromJson(json.loads(schema_string))
    widening_on = (
        (config or {}).get("delta.enableTypeWidening", "false").lower()
        == "true"
    )
    by_name = {f.name: f for f in schema.fields}
    new_fields = []
    widened: dict[str, T.StructField] = {}
    for f in df.schema.fields:
        tgt = by_name.get(f.name)
        if tgt is None:
            new_fields.append(T.StructField(f.name, f.dataType, True))
        elif tgt.dataType != f.dataType:
            pair = (tgt.dataType.typeName(), f.dataType.typeName())
            if widening_on and pair in _WIDENINGS:
                meta = dict(tgt.metadata or {})
                meta.setdefault("delta.typeChanges", []).append(
                    {"fromType": pair[0], "toType": pair[1]}
                )
                widened[f.name] = T.StructField(
                    f.name, f.dataType, tgt.nullable, meta
                )
            else:
                hint = (
                    " (not a typeWidening-supported lossless widening)"
                    if widening_on
                    else ""
                )
                raise ValueError(
                    f"mergeSchema: appended column {f.name!r} has type "
                    f"{f.dataType.simpleString()} but the table declares "
                    f"{tgt.dataType.simpleString()} — mergeSchema adds "
                    "columns, it never rewrites a declared type"
                    f"{hint}; cast the frame explicitly"
                )
    actions: list[dict] = [
        {"commitInfo": {"operation": "WRITE", "mergeSchema": True}}
    ]
    if new_fields or widened:
        schema = T.StructType(
            [widened.get(f.name, f) for f in schema.fields] + new_fields
        )
        actions.append(
            _metadata(**{**st.metadata, "schemaString": json.dumps(schema.jsonValue())})
        )
    # stage with the frame's own columns in evolved-schema order; table
    # columns the frame lacks are simply ABSENT from the file (the
    # reader's missing-column rule serves typed NULLs — no rewrite)
    out = df.select(*[f.name for f in schema.fields if f.name in df.columns])
    _stage_single_parquet(out, os.path.join(base, file_name))
    actions.append(_add(base, file_name))
    commit(base, actions, st.version)


def _build_merge_schema_fixture(spark: SparkSession, sf_dir: str) -> str:
    """lo rows (3 cols) at v0; v1 merge-schema-appends hi rows carrying
    the extra ``n_name_len`` int column in the same commit as the
    widened metaData."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        delta_append_commit(
            spark, base, n.filter("n_nationkey < 12"), "part-lo.parquet",
            first=True,
        )
        hi = n.filter("n_nationkey >= 12").withColumn(
            "n_name_len", F.length("n_name").cast("int")
        )
        delta_append_merge_schema(spark, base, hi, "part-hi.parquet")

    return built(sf_dir, "delta_merge_schema", build)


@query(
    "delta_append_merge_schema",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_nationkey >= 12
                THEN CAST(length(n_name) AS INT) END AS n_name_len
    FROM nation
    """,
)
def delta_append_merge_schema_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """mergeSchema append round-trip: the appended frame carries a NEW
    ``n_name_len`` column; the widened metaData rides the same commit as
    the add, the pre-evolution file reads back with typed NULLs in the
    new column, and the identity-plus-case oracle certifies every cell
    through the repo's own log reader. Type-conflict refusal,
    single-commit atomicity, and the no-rewrite invariant are pinned in
    tests/test_surface58.py."""
    base = _build_merge_schema_fixture(spark, sf_dir)
    return delta_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey", "n_name_len"
    )


def _build_type_widen_fixture(spark: SparkSession, sf_dir: str) -> str:
    """v0: lo rows, n_regionkey INT; v1: ALTER enabling typeWidening;
    v2: mergeSchema append of hi rows carrying n_regionkey as LONG —
    the declared type widens int→long in the same commit as the add."""

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        delta_append_commit(
            spark, base, n.filter("n_nationkey < 12"), "part-lo.parquet",
            first=True,
        )
        _live, ss, _pc, _cfg, _dvs = delta_state(spark, base)
        _commit(
            os.path.join(base, "_delta_log"),
            1,
            [
                {"commitInfo": {"operation": "SET TBLPROPERTIES"}},
                _metadata(
                    schema_json=json.loads(ss),
                    configuration={"delta.enableTypeWidening": "true"},
                ),
            ],
        )
        hi = n.filter("n_nationkey >= 12").withColumn(
            "n_regionkey", F.col("n_regionkey").cast("long")
        )
        delta_append_merge_schema(spark, base, hi, "part-hi.parquet")

    return built(sf_dir, "delta_type_widen", build)


@query(
    "delta_append_type_widen",
    oracle="""
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def delta_append_type_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """typeWidening round-trip: with ``delta.enableTypeWidening`` set,
    a mergeSchema append whose column arrived as LONG widens the
    declared INT to LONG in the same atomic commit — NO existing file
    is rewritten; the pre-widening int32 file upcasts under the widened
    read schema (the feature's whole point: a type change on a 100 TB
    table stays a metadata operation). Every cell value-oracled through
    the repo's own reader. Narrowing refusal, feature-off refusal, and
    the recorded ``delta.typeChanges`` field metadata are pinned in
    tests/test_surface58.py."""
    base = _build_type_widen_fixture(spark, sf_dir)
    return delta_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _build_merge_evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Full nation at v0/v1 (sink-style two appends); one MERGE WITH
    SCHEMA EVOLUTION: the source carries the three declared columns plus
    the new ``n_upd`` int column (=7) — keys {1,3} match and update
    n_name to UPPER, keys {100,101} are not-matched inserts."""
    from .delta_dml import delta_merge_into

    def build(base: str) -> None:
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        delta_append_commit(
            spark, base, n.filter("n_nationkey < 12"), "part-lo.parquet",
            first=True,
        )
        delta_append_commit(
            spark, base, n.filter("n_nationkey >= 12"), "part-hi.parquet"
        )
        matched = (
            n.filter("n_nationkey IN (1, 3)")
            .withColumn("n_name", F.upper("n_name"))
        )
        inserted = spark.createDataFrame(
            [(100, "NEW-100", 0), (101, "NEW-101", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        source = matched.unionByName(inserted).withColumn(
            "n_upd", F.lit(7).cast("int")
        )
        delta_merge_into(
            spark, base, source, "n_nationkey", ["n_name"],
            schema_evolution=True,
        )

    return built(sf_dir, "delta_merge_evolution", build)


@query(
    "delta_merge_schema_evolution",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey IN (1, 3) THEN upper(n_name)
                ELSE n_name END AS n_name,
           n_regionkey,
           CASE WHEN n_nationkey IN (1, 3)
                THEN CAST(7 AS INT) END AS n_upd
    FROM nation
    UNION ALL
    SELECT * FROM (VALUES
      (100, 'NEW-100', 0, CAST(7 AS INT)),
      (101, 'NEW-101', 1, CAST(7 AS INT))
    ) t(n_nationkey, n_name, n_regionkey, n_upd)
    """,
)
def delta_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION round-trip: the source carries a NEW
    ``n_upd`` column — it joins the target schema (nullable) and the
    UPDATE SET in the SAME atomic commit as the rewrites + insert file.
    Matched keys {1,3} take the uppercased name AND n_upd=7; inserted
    keys {100,101} carry it too; every pre-existing row reads typed
    NULL. Value-oracled cell-by-cell through the repo's own reader.
    Type-conflict + column-mapping refusals, the NULL-fill of
    source-missing columns, and one-commit atomicity are pinned in
    tests/test_surface58.py."""
    base = _build_merge_evolution_fixture(spark, sf_dir)
    return delta_snapshot(spark, base).select(
        "n_nationkey", "n_name", "n_regionkey", "n_upd"
    )
