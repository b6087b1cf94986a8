"""One Spark driver process of a benchmark run.

The process times its set-up (engine import, ``session.get_spark``, a
first trivial action), then runs the workload: one cold pass, then
``WARM_PASSES`` warm passes. Each key call is timed in two phases:
*build* (``QUERIES[key](spark, sf_dir)``, which includes any eager jobs
the operators run) and *run* (materialising the DataFrame to the
``noop`` sink). After the last timed pass, the cold pass's DataFrames are
collected and their rows compared with each key's DuckDB oracle or
pinned digest, so that no check job runs between two timed keys.

run.py starts this with the run's work directory as cwd and the checkout
root on PYTHONPATH. The result is one JSON document written to ``--out``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import NoReturn  # noqa: E402

#: Warm passes per run. Fixed, so that every commit's pass_s is the
#: median over equally warmed passes.
WARM_PASSES = 3


def setup():
    from sap_cta_data_pipeline_spark.registry import ORACLES, QUERIES
    import sap_cta_data_pipeline_spark.operators  # noqa: F401 — registers every key

    t1 = time.perf_counter()
    from sap_cta_data_pipeline_spark.session import get_spark

    spark = get_spark()
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    timing = {"import_s": t1 - _T0, "session_s": t2 - t1, "first_action_s": t3 - t2}
    return spark, QUERIES, ORACLES, timing


def relocate_scratch(root: str) -> None:
    """Point the engine's per-process scratch (``operators.sources._scratch``,
    which every table-format module imports) into ``root``, so that a run
    writes only inside its own work directory. The ``pid<pid>/<input>/<name>``
    layout under the root is kept."""
    from sap_cta_data_pipeline_spark.operators import sources

    original = sources._scratch
    marker = f"{os.sep}pid{os.getpid()}{os.sep}"

    def _scratch(sf_dir: str, name: str) -> str:
        path = original(sf_dir, name)
        return root + path[path.index(marker):]

    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("sap_cta_data_pipeline_spark") and (
            getattr(mod, "_scratch", None) is original
        ):
            mod._scratch = _scratch


class Tracer:
    """Spans with counter deltas taken at their boundaries.

    A span has an id, a parent, a name, start and end (seconds since the
    process started) and, for key phases, the counters of
    :class:`counters.Probe` over its interval. With no probe (untraced
    runs) spans record nothing and cost nothing."""

    def __init__(self, probe) -> None:
        self.probe = probe
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, count: bool = False, **attrs):
        if self.probe is None:
            yield None
            return
        if count:
            self.probe.drain()
            before = self.probe.snapshot()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
            "start": time.perf_counter() - _T0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - _T0
            self._stack.pop()
            if count:
                self.probe.drain()
                after = self.probe.snapshot()
                rec["counters"] = {k: after[k] - before[k] for k in after}
                rec["counters"].update(
                    self.probe.stage_totals(before["stage"], after["stage"])
                )

    def self_times(self) -> None:
        """Add ``self_s`` to every span: its duration minus its children's
        (children of one span never overlap)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child_s.get(s["id"], 0.0)


class Inputs:
    """The input directory a pass reads. With ``fresh`` every pass gets a
    new directory of symlinks to the generated tables, with a basename no
    earlier pass used, so the engine's per-input fixture cache misses and
    the pass writes its tables again."""

    def __init__(self, data_dir: str, work_dir: str, seed: int, fresh: bool) -> None:
        self.data_dir, self.work_dir, self.seed, self.fresh = data_dir, work_dir, seed, fresh

    def for_pass(self, label: str) -> str:
        if not self.fresh:
            return self.data_dir
        alias = os.path.join(self.work_dir, "inputs", f"lake-s{self.seed}-{label}")
        os.makedirs(alias)
        for name in sorted(os.listdir(self.data_dir)):
            if name.endswith(".parquet"):
                os.symlink(os.path.join(self.data_dir, name), os.path.join(alias, name))
        return alias


class Checker:
    """Compares a key's rows with its DuckDB oracle over the same input, or
    with the digest pinned in expected.json for keys without an oracle."""

    def __init__(self, oracles: dict, expected: dict) -> None:
        self.oracles, self.expected = oracles, expected
        self._cons: dict = {}

    def __call__(self, key: str, df, sf_dir: str) -> list[str]:
        from tests.differential import canonicalize, duckdb_con, frames_match

        actual = df.toPandas()
        if key in self.oracles:
            if sf_dir not in self._cons:
                self._cons[sf_dir] = duckdb_con(sf_dir)
            return frames_match(actual, self._cons[sf_dir].execute(self.oracles[key]).fetchdf())
        csv = canonicalize(actual).to_csv(index=False).encode()
        got, pinned = hashlib.sha256(csv).hexdigest()[:16], self.expected.get(key)
        return [] if got == pinned else [f"rows digest {got} != pinned {pinned}"]


def run_pass(spark, queries, keys, sf_dir, tracer, label) -> tuple[dict, dict]:
    """Time every key of one pass. Returns the pass record and the
    DataFrame each key that did not raise returned."""
    record = {"label": label, "sf_dir": os.path.basename(sf_dir), "keys": {},
              "errors": {}, "check": {}}
    frames = {}
    with tracer.span("pass", label=label):
        start = time.perf_counter()
        for key in keys:
            with tracer.span("key", key=key):
                try:
                    with tracer.span("build", count=True, key=key, label=label):
                        t0 = time.perf_counter()
                        df = queries[key](spark, sf_dir)
                        t1 = time.perf_counter()
                    with tracer.span("run", count=True, key=key, label=label):
                        t2 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                except Exception:  # noqa: BLE001 — a failing key is counted, not fatal
                    record["errors"][key] = traceback.format_exc(limit=3)
                    continue
                record["keys"][key] = {"build_s": t1 - t0, "run_s": t3 - t2}
                frames[key] = df
        record["wall_s"] = time.perf_counter() - start
    return record, frames


def check_pass(record: dict, frames: dict, sf_dir: str, checker, tracer) -> None:
    """Check each key's DataFrame of one pass, untimed, into
    ``record["check"]``."""
    with tracer.span("check", label=record["label"]):
        for key, df in frames.items():
            try:
                record["check"][key] = checker(key, df, sf_dir)
            except Exception:  # noqa: BLE001 — a failing check is counted, not fatal
                record["check"][key] = [traceback.format_exc(limit=3)]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark, queries, oracles, setup_timing = setup()
    result: dict = {"setup": setup_timing}

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    work_dir = os.getcwd()
    relocate_scratch(os.path.join(work_dir, "scratch"))
    probe = None
    if args.trace:
        from counters import Probe, tree_files

        probe = Probe(spark)
    tracer = Tracer(probe)
    inputs = Inputs(args.data, work_dir, args.seed, wl.fresh_input_per_pass)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as fh:
        expected = json.load(fh)

    passes: list[dict] = []
    cold_frames, cold_dir = {}, ""
    for i in range(1 + WARM_PASSES):
        label = f"p{i}"
        keys = list(wl.keys)
        random.Random(f"{args.seed}:{label}").shuffle(keys)
        sf_dir = inputs.for_pass(label)
        rec, frames = run_pass(spark, queries, keys, sf_dir, tracer, label)
        if i == 0:
            cold_frames, cold_dir = frames, sf_dir
        if probe is not None:
            # pass-end state, after the pass's wall clock has stopped
            rec["footprint"] = probe.session_footprint()
            scratch = os.path.join(work_dir, "scratch", f"pid{os.getpid()}", os.path.basename(sf_dir))
            rec["files_written"], rec["bytes_written"] = tree_files(scratch)
        passes.append(rec)
    check_pass(passes[0], cold_frames, cold_dir, Checker(oracles, expected), tracer)
    result["passes"] = passes
    if probe is not None:
        tracer.self_times()
        result["spans"] = tracer.spans
        probe.close()
    _finish(args.out, result)


def _finish(path: str, result: dict) -> NoReturn:
    """Write the result and leave at once. run.py stops the JVM and the
    Python workers this process leaves behind, so a run does not pay for
    the session's orderly shutdown."""
    with open(path, "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
