"""The benchmark's workloads: which registered query keys a pass runs.

Every workload runs its keys in one Spark driver process, over the tables
of datagen.py. The key lists are sized so that a whole run (set-up, a
cold pass, three warm passes and the output check) fits the run budget
on a 4-vCPU VM; README.md has the measured walls.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: registry keys, run in a seed-shuffled order each pass
    keys: tuple[str, ...]
    #: give every pass its own input directory, so that the per-process
    #: fixture cache misses and the table writes run again on every pass
    fresh_input_per_pass: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        # The LLM-data lane. MinHash + connected components run ~46 eager
        # jobs and Python-worker scoring while the DataFrame is built;
        # exact dedup and language id are lighter SQL keys beside it.
        Workload(
            "corpus",
            (
                "dedup_minhash_cluster",
                "dedup_exact",
                "text_lang_id",
            ),
        ),
        # Table formats: a Delta MERGE and an Iceberg append write beside a
        # deletion-vector read, plus a Python streaming source. The engine
        # builds these fixtures from the 25-row nation table, so the pass is
        # many small jobs, bound by the per-job floor and driver-side
        # log/metadata work, not by input size.
        Workload(
            "lakehouse",
            (
                "delta_merge_into_roundtrip",
                "scan_delta_dv",
                "source_python_stream_datasource",
                "sink_iceberg_append",
            ),
            fresh_input_per_pass=True,
        ),
    )
}
