"""§2 round-8 batch DU — Delta table features on the WRITE path: CHECK
constraints and generated columns, enforced by the writer the way the
Delta protocol assigns them (both are writer-side obligations carried in
table metadata — readers never re-validate).

- CHECK constraints live in ``metaData.configuration`` under
  ``delta.constraints.<name>`` (writer feature ``checkConstraints``,
  minWriterVersion 3): every writer MUST verify each incoming row
  satisfies every constraint expression before committing.
- Generated columns live in the schemaString as per-field metadata
  ``delta.generationExpression`` (writer feature ``generatedColumns``,
  minWriterVersion 4): a writer must COMPUTE the column when absent and
  VALIDATE a supplied value equals the expression otherwise.

Both lanes certify writer∘reader = identity through this module's own
log writer and ``delta_snapshot``; rejection paths (violating append,
mismatched generated value) are pinned in tests.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .delta_reader import _commit, _metadata, _protocol, delta_snapshot, delta_state
from .lakehouse_interop import delta_append_commit
from .sources import built


class DeltaConstraintViolation(Exception):
    """A CHECK constraint or generated-column contract failed for at
    least one incoming row — the commit is refused (nothing staged)."""


def delta_create_featured(
    spark: SparkSession,
    base: str,
    schema_df: DataFrame,
    constraints: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
) -> None:
    """Version-0 commit declaring the table's features: CHECK
    constraints in configuration, generation expressions in the schema
    field metadata. ``schema_df`` supplies the full schema (including
    generated columns) but NO data is written."""
    schema_json = schema_df.schema.jsonValue()
    for fld in schema_json["fields"]:
        if generated and fld["name"] in generated:
            fld["metadata"] = dict(
                fld.get("metadata") or {},
                **{"delta.generationExpression": generated[fld["name"]]},
            )
    config = {
        f"delta.constraints.{name}": expr
        for name, expr in (constraints or {}).items()
    }
    _commit(
        os.path.join(base, "_delta_log"),
        0,
        [
            # checkConstraints=3, generatedColumns=4 (PROTOCOL.md)
            _protocol(1, 4 if generated else 3),
            _metadata(schema_json=schema_json, configuration=config),
        ],
    )


def delta_append_enforced(
    spark: SparkSession, base: str, df: DataFrame, file_name: str
) -> None:
    """Append that honors the table's writer features: compute absent
    generated columns, validate supplied ones, verify every CHECK
    constraint — all DISTRIBUTED (one validation pass; the counts
    collected are 1-row audit scalars) — then stage + commit through the
    house append path. Raises :class:`DeltaConstraintViolation` before
    staging anything if any row fails."""
    _, schema_string, _, config, _ = delta_state(spark, base, None)
    schema_json = json.loads(schema_string)

    gen_exprs = {
        f["name"]: (f.get("metadata") or {}).get("delta.generationExpression")
        for f in schema_json["fields"]
    }
    gen_exprs = {k: v for k, v in gen_exprs.items() if v}
    checks = []  # (label, violation predicate) — one audit agg, one pass
    for col, expr in gen_exprs.items():
        if col in df.columns:
            checks.append(
                (
                    f"generated column {col} <> {expr}",
                    ~F.col(col).eqNullSafe(F.expr(expr)),
                )
            )
        else:
            df = df.withColumn(col, F.expr(expr))
    # declared column order (generated cols may have been appended last)
    df = df.select(*[f["name"] for f in schema_json["fields"]])
    for key, expr in sorted(config.items()):
        if not key.startswith("delta.constraints."):
            continue
        name = key[len("delta.constraints."):]
        # Delta CHECK semantics: violation unless the expression is TRUE
        # (NULL fails), same as ADD CONSTRAINT enforcement.
        checks.append(
            (
                f"CHECK constraint {name} ({expr})",
                ~F.coalesce(F.expr(expr), F.lit(False)),
            )
        )
    if checks:
        audit = df.agg(
            *[
                F.sum(F.when(pred, 1).otherwise(0)).alias(f"c{i}")
                for i, (_, pred) in enumerate(checks)
            ]
        ).collect()[0]  # 1-row audit scalars (bounded driver literal)
        for i, (label, _) in enumerate(checks):
            n_bad = audit[i] or 0
            if n_bad:
                raise DeltaConstraintViolation(
                    f"{n_bad} row(s) violate {label}; commit refused"
                )
    delta_append_commit(spark, base, df, file_name)


_SUBSET = "o_orderkey % 13 = 0"


@query(
    "delta_write_check_constraint",
    oracle=f"""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE {_SUBSET}
    """,
)
def delta_write_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint round-trip: create a Delta table whose metaData
    declares ``delta.constraints.price_positive = o_totalprice > 0``
    (writer feature checkConstraints, minWriterVersion 3), append the
    orders subset in two halves through the ENFORCING writer (each
    append = one distributed validation pass whose audit is a 1-row
    scalar, then the normal stage + atomic commit), read back through
    delta_snapshot. The rejection path — an append containing a
    non-positive price fails BEFORE staging, table unchanged — is
    pinned in tests.

    Scale: enforcement is one extra map-side predicate + a 1-row audit
    agg per append — no shuffle, no second read of the table; cost is
    O(appended rows) however large the table already is."""

    def build(base: str) -> None:
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(_SUBSET)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
        )
        delta_create_featured(
            spark,
            base,
            o.limit(0),
            constraints={"price_positive": "o_totalprice > 0"},
        )
        delta_append_enforced(
            spark, base, o.filter("o_orderkey % 26 = 0"), "half-a.parquet"
        )
        delta_append_enforced(
            spark, base, o.filter("o_orderkey % 26 <> 0"), "half-b.parquet"
        )

    base = built(sf_dir, "delta_check_constraint", build)
    return delta_snapshot(spark, base)


@query(
    "delta_write_generated_columns",
    oracle=f"""
    SELECT o_orderkey, o_orderdate,
           CAST(date_part('year', o_orderdate) AS INT) AS o_year,
           CAST(date_part('month', o_orderdate) AS INT) AS o_month
    FROM orders WHERE {_SUBSET}
    """,
)
def delta_write_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated-columns round-trip: the table schema declares
    ``o_year = year(o_orderdate)`` and ``o_month = month(o_orderdate)``
    via ``delta.generationExpression`` field metadata (writer feature
    generatedColumns, minWriterVersion 4); the append supplies ONLY the
    base columns, the writer computes the generated ones (so they are
    MATERIALIZED in the data files — partition-pruning and stats work on
    them like any column, which is the feature's point: query by year
    without parsing dates). Tests pin that the stored parquet physically
    contains the computed columns and that supplying a WRONG o_year is
    refused (the protocol's must-match rule).

    Scale: generation is a map-side projection at write time — zero
    read-side cost forever after, the classic shred-on-ingest trade."""

    def build(base: str) -> None:
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(_SUBSET)
            .select("o_orderkey", "o_orderdate")
        )
        full = o.withColumn("o_year", F.year("o_orderdate")).withColumn(
            "o_month", F.month("o_orderdate")
        )
        delta_create_featured(
            spark,
            base,
            full.limit(0),
            generated={
                "o_year": "year(o_orderdate)",
                "o_month": "month(o_orderdate)",
            },
        )
        delta_append_enforced(spark, base, o, "gen-a.parquet")

    base = built(sf_dir, "delta_generated_cols", build)
    return delta_snapshot(spark, base)
