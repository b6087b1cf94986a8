"""§2 round-10 batch FW — Delta liquid clustering + in-commit timestamps.

The two "current Delta writer" table features the round-9 verdict named
(missing #1): **liquid clustering** (a ``domainMetadata`` action in
domain ``delta.clustering`` carrying the clustering column list, plus
``clusteringProvider`` on add actions) and **in-commit timestamps**
(``delta.enableInCommitTimestamps``: the commit's authoritative
timestamp lives IN the commitInfo action, not in file mtime — immune to
log copies, restores, and object-store clock skew). Both previously
passed through the log replay silently; this batch surfaces them:

- ``delta_clustered_detail`` — DESCRIBE DETAIL over a clustered+ICT
  table: clustering columns (from domain metadata, last-writer-wins),
  provider, ICT enablement version, protocol floor.
- ``delta_history_ict`` — DESCRIBE HISTORY where each commit's
  timestamp column comes from ICT when the commit carries one
  (deterministic, value-oracled) and is NULL for pre-enablement commits
  (whose only timestamp is the nondeterministic file mtime).
- ``delta_time_travel_ict`` — ``FOR TIMESTAMP AS OF`` resolution
  through ICT: the fixture forces ALL commit-file mtimes equal (the
  restore/copy scenario that breaks the legacy rule), and the reader
  still resolves the enablement-era target to exactly the right
  version because resolution reads commitInfo, not the filesystem.

Fixture (nation, 3 commits, ICT enabled MID-HISTORY — the spec's hard
case):

  v0  (pre-ICT)  protocol(mrv1/mwv7 + domainMetadata,clusteredTable
                 writer features), metaData, delta.clustering domain
                 metadata (n_regionkey, n_nationkey), add part-a
                 (keys<12) + part-b (keys>=12), both clusteringProvider
                 'liquid'
  v1  (enables ICT) commitInfo FIRST with inCommitTimestamp
                 1700000100000, protocol += inCommitTimestamp writer
                 feature, metaData config gains
                 enableInCommitTimestamps + enablement version/ts
  v2  commitInfo(ICT 1700000200000), remove part-a — latest state is
                 keys>=12 only; v1's state is the full clean nation
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..registry import query
from .delta_reader import (
    _add,
    _commit,
    _commit_ict_ms,
    _metadata,
    _protocol,
    _read_commit,
    _remove,
    _stage_single_parquet,
    _versions,
    delta_snapshot,
    delta_version_at_timestamp,
    log_state,
)
from .sources import built

_ICT_V1_MS = 1700000100000
_ICT_V2_MS = 1700000200000
_CLUSTER_DOMAIN = "delta.clustering"


def _build_ict_clustered_fixture(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    log_dir = os.path.join(base, "_delta_log")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    _stage_single_parquet(
        n.filter("n_nationkey < 12"), os.path.join(base, "part-a.parquet")
    )
    _stage_single_parquet(
        n.filter("n_nationkey >= 12"), os.path.join(base, "part-b.parquet")
    )
    add_a, add_b = (
        _add(base, rel, clusteringProvider="liquid")
        for rel in ("part-a.parquet", "part-b.parquet")
    )
    _commit(
        log_dir,
        0,
        [
            {"commitInfo": {"operation": "WRITE"}},
            _protocol(1, 7, writer_features=["domainMetadata", "clusteredTable"]),
            _metadata(),
            {
                "domainMetadata": {
                    "domain": _CLUSTER_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": [["n_regionkey"], ["n_nationkey"]]}
                    ),
                    "removed": False,
                }
            },
            add_a,
            add_b,
        ],
    )
    _commit(
        log_dir,
        1,
        [
            # ICT contract: commitInfo is the FIRST action of the commit
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "inCommitTimestamp": _ICT_V1_MS,
                }
            },
            _protocol(
                1,
                7,
                writer_features=["domainMetadata", "clusteredTable", "inCommitTimestamp"],
            ),
            _metadata(
                configuration={
                    "delta.enableInCommitTimestamps": "true",
                    "delta.inCommitTimestampEnablementVersion": "1",
                    "delta.inCommitTimestampEnablementTimestamp": str(_ICT_V1_MS),
                },
            ),
        ],
    )
    _commit(
        log_dir,
        2,
        [
            {
                "commitInfo": {
                    "operation": "DELETE",
                    "inCommitTimestamp": _ICT_V2_MS,
                }
            },
            _remove(add_a),
        ],
    )
    # the restore/copy scenario: every commit file gets the SAME mtime,
    # so the legacy rule cannot order commits — ICT must
    mt = os.path.getmtime(os.path.join(log_dir, f"{0:020d}.json"))
    for v in range(3):
        os.utime(os.path.join(log_dir, f"{v:020d}.json"), (mt, mt))


def delta_clustering_domain(spark: SparkSession, base: str) -> dict | None:
    """The ``delta.clustering`` domain's configuration at the tip
    (``log_state`` keeps the last writer's action per domain; a
    ``removed: true`` tombstone clears it) — the reader-side surface for
    liquid clustering metadata."""
    dm = log_state(spark, base).domains.get(_CLUSTER_DOMAIN)
    return None if dm is None else json.loads(dm["configuration"])


@query(
    "delta_clustered_detail",
    oracle="""
    SELECT * FROM (VALUES
      ('parquet', CAST(1 AS BIGINT), 'liquid',
       'n_regionkey,n_nationkey', true, 1, 1, 7)
    ) t(format, num_files, clustering_provider, clustering_columns,
        ict_enabled, ict_enablement_version, min_reader_version,
        min_writer_version)
    """,
)
def delta_clustered_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL over the clustered+ICT fixture: the liquid
    clustering column list comes from the ``delta.clustering`` domain
    metadata (the physical layout hint an OPTIMIZE would cluster by),
    the provider from the add actions, ICT enablement from the table
    configuration, and the protocol floor (1/7 — writer features need
    writer v7; clustering and ICT are writer-only, so readers stay at
    v1). Metadata-only: O(log) driver work, no data file opened — the
    same cost shape as delta_describe_detail at any table size."""
    base = built(
        sf_dir,
        "delta_ict_clustered",
        partial(_build_ict_clustered_fixture, spark, sf_dir),
    )
    st = log_state(spark, base)
    config = st.metadata.get("configuration") or {}
    cluster = delta_clustering_domain(spark, base) or {}
    cols = [c[0] for c in cluster.get("clusteringColumns", [])]
    providers = {a.get("clusteringProvider") for a in st.adds.values()} - {None}
    provider = max(providers, default=None)
    proto = st.protocol
    return spark.createDataFrame(
        [
            (
                "parquet",
                len(st.adds),
                provider,
                ",".join(cols),
                config.get("delta.enableInCommitTimestamps", "false") == "true",
                int(config.get("delta.inCommitTimestampEnablementVersion", 0)),
                int(proto.get("minReaderVersion", 1)),
                int(proto.get("minWriterVersion", 2)),
            )
        ],
        "format string, num_files bigint, clustering_provider string, "
        "clustering_columns string, ict_enabled boolean, "
        "ict_enablement_version int, min_reader_version int, "
        "min_writer_version int",
    )


@query(
    "delta_history_ict",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'WRITE', CAST(NULL AS BIGINT), 'file-mtime'),
      (CAST(1 AS BIGINT), 'SET TBLPROPERTIES', CAST(1700000100000 AS BIGINT),
       'inCommitTimestamp'),
      (CAST(2 AS BIGINT), 'DELETE', CAST(1700000200000 AS BIGINT),
       'inCommitTimestamp')
    ) t(version, operation, ict_ms, ts_source)
    """,
)
def delta_history_ict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY surfacing in-commit timestamps: commits carrying
    commitInfo.inCommitTimestamp report it as their authoritative
    timestamp (``ts_source = 'inCommitTimestamp'`` — deterministic, so
    it value-oracles exactly); the pre-enablement commit's only
    timestamp is its file mtime (nondeterministic → reported as source
    'file-mtime' with a NULL ict_ms, never a fake value)."""
    base = built(
        sf_dir,
        "delta_ict_clustered",
        partial(_build_ict_clustered_fixture, spark, sf_dir),
    )
    log_dir = os.path.join(base, "_delta_log")
    rows = []
    for v in _versions(log_dir):
        ci = next(
            (a["commitInfo"] for a in _read_commit(log_dir, v) if "commitInfo" in a),
            {},
        )
        ict = ci.get("inCommitTimestamp")
        rows.append(
            (
                v,
                ci.get("operation", "WRITE"),
                ict,
                "inCommitTimestamp" if ict is not None else "file-mtime",
            )
        )
    return spark.createDataFrame(
        rows, "version bigint, operation string, ict_ms bigint, ts_source string"
    )


@query(
    "delta_time_travel_ict",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def delta_time_travel_ict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FOR TIMESTAMP AS OF`` on an ICT table: the target is v1's
    in-commit timestamp; the fixture has ALL commit-file mtimes forced
    EQUAL (a log restore/copy — the scenario ICT exists for), so the
    legacy mtime rule cannot order the commits at all, and resolution
    MUST come from commitInfo. v1 resolves exactly (v2's ICT is
    strictly newer) and serves the full clean nation — the identity
    oracle certifies the resolved snapshot; the mtime-blindness pin
    lives in tests/test_surface50.py."""
    base = built(
        sf_dir,
        "delta_ict_clustered",
        partial(_build_ict_clustered_fixture, spark, sf_dir),
    )
    version = delta_version_at_timestamp(spark, base, _ICT_V1_MS / 1000)
    if version != 1:
        raise AssertionError(f"ICT resolution picked {version}, expected 1")
    # sanity: the resolver really read ICT, not the (uniform) mtimes
    if _commit_ict_ms(os.path.join(base, "_delta_log"), version) != _ICT_V1_MS:
        raise AssertionError("resolved commit does not carry the target ICT")
    return delta_snapshot(spark, base, version=version).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
