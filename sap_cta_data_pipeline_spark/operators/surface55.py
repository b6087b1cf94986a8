"""§2 round-10 batch GB — CDF range addressed by in-commit timestamps.

Composes two round-10 features into the workflow a real incremental
consumer runs: ``table_changes(startingTimestamp, endingTimestamp)``
where BOTH endpoints resolve through in-commit timestamps (batch FW's
ICT-aware ``delta_version_at_timestamp``), not file mtimes. The
fixture is the CDF table (delta_reader._build_cdf_fixture) retrofitted
the way a real ICT rollout happens — a metadata commit enables the
feature and every commit's commitInfo carries its authoritative
timestamp — then ALL commit-file mtimes are forced equal (the log
restore/copy scenario): a consumer's "give me changes since 10:00"
keeps meaning the same rows after the log is copied, BECAUSE the
timestamps live in the commits.

``delta_cdf_by_timestamp_ict``: the [ICT(v1), ICT(v2)] window —
resolution must land exactly [1, 2]; the feed is v1's cdc-file UPDATE
rows (preimage+postimage, never the rewrite's remove+add) plus v2's
derived deletes, value-oracled cell-by-cell.

Scale: timestamp resolution is O(log) commitInfo reads; the feed scan
itself is delta_table_changes' bounded per-version plan — nothing here
grows with table size.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from .delta_reader import (
    _build_cdf_fixture,
    _commit_ict_ms,
    _read_commit,
    _versions,
    delta_table_changes,
    delta_version_at_timestamp,
)
from .sources import built

_T0_MS = 1700000000000
_STEP_MS = 100_000


def _build_cdf_ict_fixture(spark: SparkSession, sf_dir: str, base: str) -> None:
    """The CDF fixture with ICT enabled FROM CREATION: each commit's
    actions are rewritten with a FIRST-position commitInfo carrying a
    monotonic inCommitTimestamp (t0 + 100s * version), v0's metaData
    gains the enablement properties, and every commit file gets the
    SAME mtime — resolution has nothing but the commit payloads to go
    on."""
    _build_cdf_fixture(spark, sf_dir, base)
    log_dir = os.path.join(base, "_delta_log")
    versions = _versions(log_dir)
    for v in versions:
        actions = [
            a for a in _read_commit(log_dir, v) if "commitInfo" not in a
        ]
        for a in actions:
            if "metaData" in a:
                cfg = dict(a["metaData"].get("configuration") or {})
                cfg.update(
                    {
                        "delta.enableInCommitTimestamps": "true",
                        "delta.inCommitTimestampEnablementVersion": "0",
                        "delta.inCommitTimestampEnablementTimestamp": str(_T0_MS),
                    }
                )
                a["metaData"]["configuration"] = cfg
        ci = {
            "commitInfo": {
                "operation": ["WRITE", "UPDATE", "DELETE"][min(v, 2)],
                "inCommitTimestamp": _T0_MS + _STEP_MS * v,
            }
        }
        path = os.path.join(log_dir, f"{v:020d}.json")
        with open(path, "w") as fh:
            for a in [ci] + actions:
                fh.write(json.dumps(a) + "\n")
    mt = os.path.getmtime(os.path.join(log_dir, f"{versions[0]:020d}.json"))
    for v in versions:
        os.utime(os.path.join(log_dir, f"{v:020d}.json"), (mt, mt))


@query(
    "delta_cdf_by_timestamp_ict",
    oracle="""
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS _commit_version,
             'update_preimage' AS _change_type,
             n_nationkey, n_name, n_regionkey
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT 1, 'update_postimage', n_nationkey, n_name || '-v2', n_regionkey
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT 2, 'delete', n_nationkey, n_name || '-v2', n_regionkey
      FROM nation WHERE n_nationkey < 5
    )
    """,
)
def delta_cdf_by_timestamp_ict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_changes over the [ICT(v1), ICT(v2)] timestamp window on a
    uniform-mtime log: both endpoints resolve via commitInfo to
    exactly [1, 2] (asserted — a mtime-rule resolver on this log
    cannot order the commits at all), and the feed carries v1's
    cdc-file update pairs plus v2's derived deletes. The consumer
    contract at 100 TB: "changes since <wall time>" stays correct
    across log copies, restores, and storage-tier migrations."""
    base = built(
        sf_dir, "delta_table_cdf_ict", partial(_build_cdf_ict_fixture, spark, sf_dir)
    )
    log_dir = os.path.join(base, "_delta_log")
    t1 = _commit_ict_ms(log_dir, 1) / 1000
    t2 = _commit_ict_ms(log_dir, 2) / 1000
    v_from = delta_version_at_timestamp(spark, base, t1)
    v_to = delta_version_at_timestamp(spark, base, t2)
    if (v_from, v_to) != (1, 2):
        raise AssertionError(f"ICT resolution picked [{v_from}, {v_to}]")
    return delta_table_changes(spark, base, v_from, v_to).select(
        "_commit_version", "_change_type", "n_nationkey", "n_name", "n_regionkey"
    )
