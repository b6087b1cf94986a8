"""Benchmark entry point: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload {warehouse,corpus,lakehouse}
        --seed N --seconds S --trace {0,1} [--cpus 4] [--driver-mem 3g]

Run from the root of a checkout. The run generates its input tables
(cached under ``.perfbench_data/``), times a reference computation (the
canary), then starts one fresh Spark driver process that sets up and runs
the workload (see worker.py). ``--seconds`` is accepted for the command
contract but not used: a run always measures one cold and a fixed number
of warm passes, so that every commit is measured alike. Everything a run writes goes under ``.perfbench_work/`` and
is removed when it ends; a traced run also leaves its spans in
``.perfbench_out/``. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when ``--trace 0`` and the
per-layer metrics when ``--trace 1``. The line before it records the run
environment and per-key walls.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: A run must end within this many seconds, child processes included.
DEADLINE_S = 170
_PACKAGE = "sap_cta_data_pipeline_spark"


def canary_s() -> float:
    """Wall time of a fixed computation that shares no code with the
    engine: pure-Python integer arithmetic and SHA-256 over 64 MiB. It
    moves only with the speed and load of the box."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    block = bytes(range(256)) * 4096
    digest = hashlib.sha256()
    for _ in range(64):
        digest.update(block)
    digest.digest()
    return time.perf_counter() - t0


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        state, _, _, session = raw[raw.rindex(")") + 2:].split()[:4]
        # a zombie has ended; it only waits for init to reap it
        if int(session) == sid and state not in "ZX":
            pids.append(int(entry))
    return pids


def run_child(cmd: list[str], env: dict, cwd: str, deadline: float) -> float:
    """Run ``cmd`` in its own session; on exit or timeout, kill whatever of
    that session is left (the JVM, Python workers) and wait until it is
    gone. Returns the wall time, clean-up included."""
    start = time.perf_counter()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        for _ in range(100):
            pids = _session_pids(proc.pid)
            if not pids:
                break
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if proc.poll() is None:
                proc.wait(timeout=5)
            time.sleep(0.1)
        else:
            raise RuntimeError(f"processes of session {proc.pid} did not exit")
    if code != 0:
        raise RuntimeError(f"{cmd[1:3]} {'timed out' if code is None else f'exited {code}'}")
    return time.perf_counter() - start


def _median(values: list[float]) -> float:
    return float(statistics.median(values))


def end_to_end(setup: dict, passes: list[dict]) -> dict:
    return {
        "setup_s": {"value": sum(setup.values()), "unit": "s"},
        "cold_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
        "pass_s": {"value": _median([p["wall_s"] for p in passes[1:]]), "unit": "s"},
    }


#: counters summed over a pass's build and run spans
_SUMMED = ("job", "stages_run", "tasks", "task_cpu_s", "task_run_s", "gc_s", "shuffle_read_mb",
           "shuffle_write_mb", "spill_mb", "pyworker_cpu_s", "stream_batches", "stream_rows")

#: per-layer metric -> (per-pass total it is the warm-pass median of, unit)
_LAYERS = {
    "operators.build_s": ("build_s", "s"),
    "operators.build_jobs": ("build_job", "count"),
    "operators.build_sql_execs": ("build_sql", "count"),
    "spark.run_s": ("run_s", "s"),
    "spark.jobs": ("job", "count"),
    "spark.stages": ("stages_run", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.task_run_s": ("task_run_s", "s"),
    "spark.task_wait_s": ("task_wait_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.spill_mb": ("spill_mb", "MB"),
    "spark.peak_exec_mem_mb": ("peak_exec_mem_mb", "MB"),
    "functions.pyworker_cpu_s": ("pyworker_cpu_s", "s"),
    "session.broadcast_blocks": ("broadcast_blocks", "count"),
    "session.cached_rdds": ("cached_rdds", "count"),
    "jvm.heap_after_gc_mb": ("heap_after_gc_mb", "MB"),
    "lake.files_written": ("files_written", "count"),
    "lake.bytes_written_mb": ("bytes_written_mb", "MB"),
    "streaming.batches": ("stream_batches", "count"),
    "streaming.input_rows": ("stream_rows", "count"),
    "bench.traced_pass_s": ("wall_s", "s"),
}


def pass_totals(p: dict, spans: list[dict]) -> dict:
    """One traced pass: its build and run span counters summed, plus the
    state read at pass end."""
    t = dict.fromkeys(("build_s", "build_job", "build_sql", "run_s", "run_job", "run_sql",
                       "peak_exec_mem_mb") + _SUMMED, 0.0)
    for s in spans:
        if s["name"] in ("build", "run") and s["label"] == p["label"]:
            c = s["counters"]
            t[f"{s['name']}_s"] += s["end"] - s["start"]
            t[f"{s['name']}_job"] += c["job"]
            t[f"{s['name']}_sql"] += c["sql"]
            for k in _SUMMED:
                t[k] += c[k]
            t["peak_exec_mem_mb"] = max(t["peak_exec_mem_mb"], c["peak_exec_mem_mb"])
    t["task_wait_s"] = t["task_run_s"] - t["task_cpu_s"]
    t.update(p["footprint"])
    t["files_written"] = p["files_written"]
    t["bytes_written_mb"] = p["bytes_written"] / 2**20
    t["wall_s"] = p["wall_s"]
    return t


def per_layer(setup: dict, passes: list[dict], spans: list[dict], canary: float) -> dict:
    """Per-pass layer totals, as the median over the warm passes."""
    warm = [pass_totals(p, spans) for p in passes[1:]]
    metrics = {f"setup.{k}": (setup[k], "s") for k in ("import_s", "session_s", "first_action_s")}
    for name, (field, unit) in _LAYERS.items():
        metrics[name] = (_median([t[field] for t in warm]), unit)
    metrics["jvm.peak_rss_mb"] = (passes[-1]["footprint"]["peak_rss_mb"], "MB")
    metrics["bench.canary_s"] = (canary, "s")
    return {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted, not used")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="4", help="local[N] cores (SPARK_GRAFT_CPUS)")
    ap.add_argument("--driver-mem", default="3g", help="SPARK_GRAFT_DRIVER_MEM")
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # on SIGTERM, unwind through the finally blocks that stop the children
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    root = os.getcwd()
    for needed in (os.path.join(_PACKAGE, "registry.py"), os.path.join("tests", "differential.py")):
        if not os.path.isfile(os.path.join(root, needed)):
            print(f"run from a checkout root: {needed} not found in {root}", file=sys.stderr)
            return 2
    wl = WORKLOADS[args.workload]
    data_dir = datagen.ensure(os.path.join(root, ".perfbench_data", "tables"))
    work = os.path.join(root, ".perfbench_work", f"run{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=args.cpus,
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    worker = [sys.executable, os.path.join(HERE, "worker.py")]
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "cpus": args.cpus,
        "driver_mem": args.driver_mem,
        "loadavg_start": os.getloadavg(),
    }
    try:
        canary_start = canary_s()
        out = os.path.join(work, "result.json")
        child_wall = run_child(
            worker
            + ["--workload", wl.name, "--seed", str(args.seed), "--trace", str(args.trace),
               "--data", data_dir, "--out", out],
            env, work, deadline,
        )
        canary_end = canary_s()
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setup = result["setup"]
    passes = result["passes"]

    failed = 0
    for p in passes:
        for key, error in p["errors"].items():
            print(f"FAILED {p['label']} {key}:\n{error}", file=sys.stderr)
        for key, problems in p["check"].items():
            for problem in problems:
                print(f"CHECK FAILED {p['label']} {key}: {problem}", file=sys.stderr)
        failed += len(p["errors"]) + sum(1 for problems in p["check"].values() if problems)
    attempted = len(wl.keys) * len(passes)

    canary = (canary_start + canary_end) / 2
    info.update(
        loadavg_end=os.getloadavg(),
        canary_start_s=canary_start,
        canary_end_s=canary_end,
        setup=setup,
        child_wall_s=child_wall,
        passes=[{k: p[k] for k in ("label", "wall_s", "keys")} for p in passes],
    )
    if args.trace:
        metrics = per_layer(setup, passes, result["spans"], canary)
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"info": info, "passes": passes, "spans": result["spans"]}, fh)
        info["trace_file"] = os.path.relpath(trace_path, root)
    else:
        metrics = end_to_end(setup, passes)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
