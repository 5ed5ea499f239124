"""Per-layer tracing for the benchmark's traced runs (`--trace 1`).

Everything here wraps calls made from the benchmark's own files: spans
around each op's build, optimize, action and verify steps, counters
read from Spark's public status APIs after each op, and timers around
the pyspark reader/writer entry points the sources layer goes through.
Nothing in the program under test is changed.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.procfs import tree_cpu_s

_READS = ("parquet", "json", "csv", "orc", "text", "load", "table")
_WRITES = ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except FileNotFoundError:
                pass
    return total


class _StreamCounter(StreamingQueryListener):
    """Micro-batches of the streaming queries run while `active`."""

    def __init__(self):
        self.active = False
        self.batch_ms: list[float] = []
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self.active:
            return
        p = event.progress
        self.batch_ms.append(float(p.batchDuration))
        self.state_rows[str(p.id)] = sum(o.numRowsTotal for o in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and per-layer counters of one traced run."""

    def __init__(self, spark, cores: int, written_dirs: list[str]):
        self.run_id = uuid.uuid4().hex
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.written_dirs = written_dirs
        self.spans: list[dict] = []
        self.c: dict[str, float] = {}
        self.plan_stats: dict[str, tuple[int, int, int]] = {}
        self.overhead_s = 0.0
        self.phase = None
        self._depth = 0
        self.jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self._streams = _StreamCounter()
        spark.streams.addListener(self._streams)
        self._patch()

    # -- spans ----------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "run_id": self.run_id, "name": name,
            "parent": parent, "start": start, "end": end, **attrs,
        })
        return len(self.spans) - 1

    def add(self, key: str, value: float) -> None:
        self.c[key] = self.c.get(key, 0.0) + value

    # -- sources layer: time inside pyspark reader/writer calls ----------
    def _patch(self) -> None:
        for cls, names, key in ((DataFrameReader, _READS, "sources.read_plan_s"),
                                (DataFrameWriter, _WRITES, "sources.write_s")):
            for n in names:
                setattr(cls, n, self._timed(getattr(cls, n), key))

    def _timed(self, fn, key):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            # only the op's own calls, not the benchmark's action write,
            # and only the outermost of nested reader/writer calls
            if tracer.phase != "build" or tracer._depth:
                return fn(*a, **kw)
            tracer._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                tracer._depth -= 1
                tracer.add(key, time.perf_counter() - t0)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def close(self) -> None:
        for cls in (DataFrameReader, DataFrameWriter):
            for n in set(_READS) | set(_WRITES):
                f = cls.__dict__.get(n)
                if f is not None and hasattr(f, "__perfbench_original__"):
                    setattr(cls, n, f.__perfbench_original__)
        self.spark.streams.removeListener(self._streams)

    # -- per-op hooks -----------------------------------------------------
    def begin(self, op: str, seq: int) -> str:
        group = f"{self.run_id}-{seq}"
        self.sc.setJobGroup(group, op, False)
        self._written_before = sum(dir_bytes(d) for d in self.written_dirs)
        self._py_before = tree_cpu_s(self.jvm_pid, include_root=False)
        self._streams.active = True
        self.phase = "build"
        return group

    def built(self, group: str) -> set[int]:
        self.phase = None
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def plans(self, op: str, df: DataFrame) -> float:
        """Force the physical plan (plan.optimize_s) and, once per op,
        count its exchanges, codegen stages and audit findings."""
        from agnes_spark.plans import audit_plan, codegen_stage_count, num_shuffles

        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        opt = time.perf_counter() - t0
        if op not in self.plan_stats:
            t1 = time.perf_counter()
            self.plan_stats[op] = (num_shuffles(df), codegen_stage_count(df), len(audit_plan(df)))
            self.overhead_s += time.perf_counter() - t1
        return opt

    def finish(self, op: str, group: str, eager: set[int], build_s: float, opt_s: float, action_s: float) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup("perfbench-untracked", "", False)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # also delivers stream progress
        self._streams.active = False
        st = self.sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(group))
        self.add("plan.build_s", build_s)
        self.add("plan.optimize_s", opt_s)
        self.add("plan.eager_jobs", len(eager))
        self.add("exec.action_s", action_s)
        self.add("exec.jobs", len(jobs - eager))
        self.add("sources.bytes_written", sum(dir_bytes(d) for d in self.written_dirs) - self._written_before)
        shuffles, codegen, findings = self.plan_stats.get(op, (0, 0, 0))
        self.add("plans.shuffles", shuffles)
        self.add("plans.codegen_stages", codegen)
        self.add("plans.findings", findings)
        store = jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        stages = set()
        for j in jobs - eager:
            info = st.getJobInfo(j)
            stages.update(info.stageIds if info else [])
        busy = 0.0
        for s in stages:
            try:
                attempts = store.stageData(s, False, self.sc._jvm.java.util.ArrayList(), False, no_quantiles)
            except Py4JJavaError:  # skipped stages (reused shuffle output) have no data
                continue
            self.add("exec.stages", 1)
            for i in range(attempts.size()):
                a = attempts.apply(i)
                busy += a.executorRunTime() / 1e3
                self.add("exec.tasks", a.numTasks())
                self.add("exec.task_retries", a.numFailedTasks())
                self.add("exec.gc_s", a.jvmGcTime() / 1e3)
                self.add("exec.shuffle_read_mb", (a.shuffleLocalBytesRead() + a.shuffleRemoteBytesRead()) / 1e6)
                self.add("exec.shuffle_write_mb", a.shuffleWriteBytes() / 1e6)
                self.add("exec.spill_mb", a.diskBytesSpilled() / 1e6)
                self.add("sources.input_mb", a.inputBytes() / 1e6)
        self.add("exec.task_busy_s", busy)
        self.add("udf.python_cpu_s", tree_cpu_s(self.jvm_pid, include_root=False) - self._py_before)
        self.overhead_s += time.perf_counter() - t0

    # -- run summary ------------------------------------------------------
    def metrics(self, loop_s: float, n_ops: int, setup: dict) -> dict[str, float]:
        """Per-layer totals over the timed ops; `*_per_op` are means."""
        c = self.c
        out = {"session.start_s": setup["start_s"], "session.warmup_s": setup["warmup_s"]}
        for key in (
            "sources.read_plan_s", "sources.write_s", "sources.bytes_written", "sources.input_mb",
            "plan.build_s", "plan.optimize_s", "plan.eager_jobs",
            "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_retries",
            "exec.task_busy_s", "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
            "exec.spill_mb", "udf.python_cpu_s",
        ):
            out[key] = c.get(key, 0.0)
        for key in ("plans.shuffles", "plans.codegen_stages", "plans.findings"):
            out[key + "_per_op"] = c.get(key, 0.0) / n_ops
        action = c.get("exec.action_s", 0.0)
        out["exec.core_util"] = c.get("exec.task_busy_s", 0.0) / (action * self.cores) if action else 0.0
        out["streaming.batches"] = len(self._streams.batch_ms)
        out["streaming.batch_p50_ms"] = statistics.median(self._streams.batch_ms) if self._streams.batch_ms else 0.0
        out["streaming.state_rows"] = sum(self._streams.state_rows.values())
        out["cache.stored_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        out["cache.stored_mb"] = sum(
            (r.memSize() + r.diskSize()) for r in self.sc._jsc.sc().getRDDStorageInfo()
        ) / 1e6
        out["trace.overhead_frac"] = self.overhead_s / loop_s
        return out
