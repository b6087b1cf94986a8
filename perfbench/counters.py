"""Counters read from outside the engine package.

Everything here reads state the engine does not manage itself: Spark's
scheduler and status store (through py4j), the JVM's management beans,
``/proc`` for the Python workers the JVM forks, the files a pass writes,
and a ``StreamingQueryListener`` the benchmark registers. Only the traced
run (``--trace 1``) creates a :class:`Probe`; untraced runs time wall
clock alone.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024 * 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of every live descendant of ``root_pid`` (utime + stime
    + cutime + cstime), plus ``root_pid``'s own cutime + cstime.

    Python workers exit mid-pass; their time then moves into their
    parent's c* fields, and when a daemon exits, into the root's. Counting
    both keeps the total monotone, so deltas are never negative."""
    stats: dict[int, tuple[int, list[str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we walked
            continue
        # comm may hold spaces or parens; the fields follow the last ')'
        fields = raw[raw.rindex(")") + 2:].split()
        stats[int(entry)] = (int(fields[1]), fields)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks = 0
    if root_pid in stats:
        f = stats[root_pid][1]
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        f = stats[pid][1]
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        todo.extend(children.get(pid, []))
    return ticks / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_files(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``; (0, 0) if it is absent."""
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            try:
                size += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                continue
            n += 1
    return n, size


class _StreamCounter(StreamingQueryListener):
    """Counts micro-batches and their input rows for every streaming query
    the session runs."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.input_rows = 0

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark's names
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self._lock:
            self.batches += 1
            self.input_rows += int(event.progress.numInputRows)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def totals(self) -> tuple[int, int]:
        with self._lock:
            return self.batches, self.input_rows


class Probe:
    """Snapshots of cumulative counters; the tracer subtracts two of them.

    Job and stage counts are high-water marks of the scheduler's id
    counters, and SQL executions the highest execution id in the SQL
    status store. Counting list lengths instead goes wrong once the
    status store starts evicting (it keeps 1000 entries)."""

    def __init__(self, spark) -> None:
        self._spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._ssc = sc._jsc.sc()
        self._dag = self._ssc.dagScheduler()
        self._store = self._ssc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        mgmt = self._jvm.java.lang.management.ManagementFactory
        self._gc_beans = mgmt.getGarbageCollectorMXBeans()
        self._mem_bean = mgmt.getMemoryMXBean()
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self.streams = _StreamCounter()
        spark.streams.addListener(self.streams)

    def close(self) -> None:
        self._spark.streams.removeListener(self.streams)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the status store and the stream listener are complete."""
        self._ssc.listenerBus().waitUntilEmpty()

    def _last_sql_execution(self) -> int:
        n = self._sql_store.executionsCount()
        if n == 0:
            return -1
        return int(self._sql_store.executionsList(n - 1, 1).head().executionId())

    def ids(self) -> dict:
        return {
            "job": int(self._dag.nextJobId()),
            "stage": int(self._dag.nextStageId()),
            "sql": self._last_sql_execution(),
        }

    def snapshot(self) -> dict:
        """Cumulative counters at this instant (call :meth:`drain` first)."""
        batches, rows = self.streams.totals()
        return {
            **self.ids(),
            "gc_s": sum(
                self._gc_beans.get(i).getCollectionTime()
                for i in range(self._gc_beans.size())
            )
            / 1000,
            "pyworker_cpu_s": proc_tree_cpu_s(self.jvm_pid),
            "stream_batches": batches,
            "stream_rows": rows,
        }

    def stage_totals(self, first_stage: int, end_stage: int) -> dict:
        """Stages that ran and their task metrics, summed over stages
        ``first_stage`` .. ``end_stage - 1``. A stage the store no longer
        holds, or never registered, counts as zero.

        Skipped stages are left out: a stage is skipped when its shuffle
        output is still registered, which depends on whether the
        ContextCleaner has run yet, so their number varies between runs."""
        out = dict.fromkeys(
            ("stages_run", "tasks", "task_cpu_s", "task_run_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb"), 0.0
        )
        for sid in range(first_stage, end_stage):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j raises NoSuchElementException
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages_run"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["task_run_s"] += sd.executorRunTime() / 1000
            out["shuffle_read_mb"] += (
                sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
            ) / _MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            out["peak_exec_mem_mb"] = max(
                out["peak_exec_mem_mb"], sd.peakExecutionMemory() / _MB
            )
        return out

    def session_footprint(self) -> dict:
        """Broadcasts and cached RDDs still held, and the heap after a
        forced GC. Read at pass end only: the forced GC perturbs timing."""
        self._jvm.java.lang.System.gc()
        statuses = self._ssc.env().blockManager().master().getStorageStatus()
        broadcasts: set[str] = set()
        for i in range(len(statuses)):
            keys = self._jvm.scala.collection.JavaConverters.mapAsJavaMap(
                statuses[i].blocks()
            ).keySet().toString()
            broadcasts.update(re.findall(r"broadcast_(\d+)", keys))
        return {
            "broadcast_blocks": len(broadcasts),
            "cached_rdds": int(self._spark.sparkContext._jsc.getPersistentRDDs().size()),
            "heap_after_gc_mb": self._mem_bean.getHeapMemoryUsage().getUsed() / _MB,
            "peak_rss_mb": peak_rss_mb(self.jvm_pid),
        }
