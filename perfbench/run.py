"""Closed-loop benchmark of agnes_spark.

One driver process, one client: the next op starts only when the
previous one has finished. An op is one call of a
`__spark_entry__.queries()` function (the plan build) followed by a
`noop` write, which materializes every output column (the action).
Inputs are the repository's test tables in a row order set by
`--seed` (perfbench/datagen.py).

A run:
  1. writes (or reuses) the workload's tables for the seed;
  2. sets the session up once, cold, as a user does before the first
     op: `get_spark()`, which launches the JVM, then the first parquet
     read, one pandas_udf call and one streaming query; `setup_s` is the
     CPU time this takes;
  3. runs every op once, untimed, collecting its output and checking
     it against its DuckDB oracle from `oracle_sql()`; this also pays
     each op's JIT and first-use costs;
  4. runs the workload's ops on its tables in a fixed order, PASSES
     whole passes and then on until `--seconds` have elapsed, timing
     each op's wall and CPU time; the temp dir is wiped after each op;
  5. prints a context line (versions, cores, per-op samples), then one
     JSON line: end-to-end metrics with `--trace 0`, per-layer metrics
     with `--trace 1` (spans go to .perfbench-work/traces/).

End-to-end metrics, both at the reference host's speed: each time is
scaled by PROBE_REF_MS over the median time, in the run, of a fixed
hashlib probe timed before every op:
  ops_per_ref_s  ops of the mix over the summed wall time of each op's
                 fastest call
  setup_s        CPU seconds of the cold set-up (step 2)

Usage:
  python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import NamedTuple

import pandas as pd  # module-level, where pandas_udf resolves the type hints

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
# a busy neighbour on the host slows any call, so each op is timed in at
# least two whole passes, and more as --seconds allows, and counted by its
# fastest call
PASSES = 2
KEEP_DATASETS = 6
# the host probe: fixed single-thread work (hashlib, none of the program
# under test) timed before every op, and its time on the reference host,
# the 4-core VM the benchmark was tuned on
PROBE_DATA = bytes(range(256)) * 4096
PROBE_REF_MS = 8.0


class Workload(NamedTuple):
    sf: str  # test-table scale of the inputs
    table: str  # the table set-up reads first
    ops: tuple[str, ...]  # in the fixed order of every pass


# Each run is one fresh session whose untimed checked pass, on the timed
# tables themselves, pays every op's JIT and first-use cost on exactly the
# plans and data the timed ops run; with the set-up that keeps a run near
# a minute on 4 cores, which bounds the op lists.
WORKLOADS = {
    # the agnes core surface on the sf0.01 tables (1.5k customer, 15k
    # orders, 60k lineitem), where plan build dominates the op
    "interactive": Workload("sf0.01", "orders", (
        "subview", "filter_pred", "sort_two_keys", "join_equal", "join_band",
        "merge_views", "melt_wide", "aggregate_sum", "view_stats", "q1_pricing_summary",
    )),
    # the 5,000 sf0.1 documents through pandas UDFs (MinHash,
    # MapInPandas), a bucketed hash-store write and a streaming ingest with
    # a persisted dedup store
    "curation": Workload("sf0.1", "documents", (
        "dedup_minhash", "repetition_metrics", "dedup_incremental", "stream_ingest_dedup",
    )),
}
# ops with no exact oracle, checked against an exact op's oracle: MinHash
# LSH never reports a non-Jaccard pair and may miss only a few
SUBSET_OF = {"dedup_minhash": ("dedup_ngram_jaccard", ["a_id", "b_id"])}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for d in ("spark-local", "cwd", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "cwd", "spark-warehouse"), ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # fixed JIT compiler threads, whose CPU time procfs.jit_cpu_s can read
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(os.path.join(WORK, "cwd"))


def _wipe(tmp: str) -> None:
    for name in os.listdir(tmp):
        path = os.path.join(tmp, name)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def _dataset(seed: int, w: Workload) -> str:
    """The workload's input directory; keeps the KEEP_DATASETS most
    recently used ones."""
    from perfbench import datagen

    root = os.path.join(WORK, "data")
    os.makedirs(root, exist_ok=True)
    data_dir = datagen.ensure(root, seed, w.sf)
    os.utime(data_dir)
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_DATASETS:]:
        shutil.rmtree(d, ignore_errors=True)
    return data_dir


def _set_up(data_dir: str, table: str, app: str):
    """The session's one cold set-up: `get_spark()`, which launches the
    JVM, then the warm-up a user pays before the first op: the first
    parquet read, materialized; a pandas_udf call in one task per core,
    which spawns the Python workers; and a streaming query over the same file, which starts the
    streaming engine. Returns the session and the set-up's wall and CPU
    seconds (driver, JVM and their children)."""
    from pyspark.sql import functions as F

    from agnes_spark import get_spark
    from perfbench.procfs import tree_cpu_s

    c0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    spark = get_spark(app)
    t1 = time.perf_counter()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.read.parquet(f"{data_dir}/{table}.parquet")
    df.write.format("noop").mode("overwrite").save()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 64 * cores, 1, cores).select(plus_one("id")).collect()
    stream = (spark.readStream.schema(df.schema).option("pathGlobFilter", f"{table}.parquet")
              .parquet(data_dir).writeStream.format("noop").trigger(availableNow=True)
              .option("checkpointLocation", tempfile.mkdtemp(prefix="setup-stream-")).start())
    stream.awaitTermination()
    setup = {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1,
             "cpu_s": tree_cpu_s(os.getpid()) - c0}
    return spark, setup


def _shut_down() -> float | None:
    """Stop the session and its JVM, if one was launched, and wait for
    the JVM to exit; returns the JVM's peak RSS in MB."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return None
    pid = gw.jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    return hwm_kb / 1024.0


def _check(name: str, got, oracle) -> str | None:
    """None if the op's output is correct, else why not."""
    if name in SUBSET_OF:
        of, keys = SUBSET_OF[name]
        return oracle.subset_mismatch(name, got, of, keys)
    return oracle.mismatch(name, got)


def _context(spark, args, op_ms: dict, op_cpu_ms: dict, op_jit_ms: dict, phase_s: dict, setup: dict) -> dict:
    import duckdb
    import pyspark

    conf = spark.conf
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "op_ms": op_ms,
        "op_cpu_ms": op_cpu_ms,
        "op_jit_ms": op_jit_ms,
        "phase_s": phase_s,
        "setup": setup,
    }


def _probe_ms() -> float:
    t = time.perf_counter()
    for _ in range(8):
        hashlib.sha256(PROBE_DATA).digest()
    return 1e3 * (time.perf_counter() - t)


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _time_op(name, fn, spark, data_dir, tracer, seq, jvm_pid) -> tuple[float, float, float, tuple]:
    """Build one op and write its output to the noop sink, which
    materializes every column; returns the op's wall latency, the CPU
    time the driver, JVM and Python workers spent on it apart from the
    JIT compiler, the JIT compiler's CPU time, and the phase boundaries
    (start, built, planned, done)."""
    from perfbench.procfs import jit_cpu_s, tree_cpu_s

    group = tracer.begin(name, seq) if tracer else None
    c0, j0 = tree_cpu_s(os.getpid()), jit_cpu_s(jvm_pid)
    t0 = time.perf_counter()
    df = fn(spark, data_dir)
    t1 = t1b = time.perf_counter()
    if tracer:
        eager = tracer.built(group)
        opt_s = tracer.plans(name, df)
        t1b = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    jit = jit_cpu_s(jvm_pid) - j0
    cpu = tree_cpu_s(os.getpid()) - c0 - jit
    if tracer:
        tracer.finish(name, group, eager, t1 - t0, opt_s, t2 - t1b)
    return (t1 - t0) + (t2 - t1b), cpu, jit, (t0, t1, t1b, t2)


def main(argv=None) -> int:
    args = _args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "agnes_spark"))):
        print(f"perfbench: no agnes_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # package imports only; perfbench/ itself off the path
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    _isolate(tmp)

    from perfbench.checks import Oracle

    phase_s = {}
    t = time.perf_counter()
    ops = WORKLOADS[args.workload].ops
    data_dir = _dataset(args.seed, WORKLOADS[args.workload])
    phase_s["inputs"] = -t + (t := time.perf_counter())
    try:
        spark, setup = _set_up(data_dir, WORKLOADS[args.workload].table, f"perfbench-{args.workload}")
        phase_s["set_up"] = -t + (t := time.perf_counter())
        import __spark_entry__ as entry

        registry, oracle_sql = entry.queries(), entry.oracle_sql()
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark, cores, [tmp, os.path.join(WORK, "cwd", "spark-warehouse")])
        attempted = failed = 0
        problems: list[str] = []

        # untimed pass: pays each op's JIT and first-use costs, which a
        # user pays once per session, and checks every op's output against
        # its oracle
        oracle = Oracle(data_dir, oracle_sql, [SUBSET_OF.get(n, (n,))[0] for n in ops])
        for name in ops:
            attempted += 1
            t0 = time.perf_counter()
            try:
                why = _check(name, registry[name](spark, data_dir).toArrow(), oracle)
            except Exception as e:  # an op that raises is a failed op
                why = f"raised {type(e).__name__}: {e}"
            if why:
                failed += 1
                problems.append(f"{name} (check): {why}")
            if tracer:
                tracer.span("verify", t0, time.perf_counter(), op=name)
        oracle.close()
        _wipe(tmp)
        phase_s["checks"] = -t + (t := time.perf_counter())

        # timed: PASSES whole passes, then further ops in the same order
        # until --seconds have elapsed, so every op has its samples and the
        # sample count grows smoothly with speed
        op_ms: dict[str, list[float]] = {}
        op_cpu_ms: dict[str, list[float]] = {}
        op_jit_ms: dict[str, list[float]] = {}
        probe_ms: list[float] = []
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        t_loop = time.perf_counter()
        for i in itertools.count():
            if i >= PASSES * len(ops) and time.perf_counter() - t_loop >= args.seconds:
                break
            name = ops[i % len(ops)]
            attempted += 1
            probe_ms.append(_probe_ms())
            try:
                lat, cpu, jit, (t0, t1, t1b, t2) = _time_op(
                    name, registry[name], spark, data_dir, tracer, attempted, jvm_pid)
            except Exception as e:
                failed += 1
                problems.append(f"{name}: raised {type(e).__name__}: {e}")
                continue
            finally:
                _wipe(tmp)
            op_ms.setdefault(name, []).append(1e3 * lat)
            op_cpu_ms.setdefault(name, []).append(1e3 * cpu)
            op_jit_ms.setdefault(name, []).append(1e3 * jit)
            if tracer:
                op_span = tracer.span("op", t0, t2, op=name, seq=attempted)
                tracer.span("build", t0, t1, op_span)
                tracer.span("optimize", t1, t1b, op_span)
                tracer.span("action", t1b, t2, op_span)
        loop_s = time.perf_counter() - t_loop
        # how much slower than the reference host this one ran: busy spells
        # of the host last minutes and slowed whole runs by up to 1.6x, in
        # wall and CPU time alike. Over ten seeds on the 4-core VM, scaling
        # by it cut the quartile spread of the fastest-call throughput from
        # 12-17% of the median to 8-9%, and of the set-up's CPU time from
        # 10-29% to 8-17%.
        host = statistics.median(probe_ms) / PROBE_REF_MS
        phase_s["loop"] = -t + (t := time.perf_counter())
        if not op_ms:
            raise RuntimeError("no op completed: " + "; ".join(problems))

        # each op of the mix weighted once, by its median sample, so the
        # ops a run reaches a second time do not shift the figures
        wall = [statistics.median(xs) for xs in op_ms.values()]
        cpu = [statistics.median(xs) for xs in op_cpu_ms.values()]
        if tracer:
            metrics = tracer.metrics(loop_s, sum(map(len, op_ms.values())), setup)
            metrics.update({
                "op.wall_p50_ms": statistics.median(wall),
                "op.wall_p90_ms": _p90(wall),
                "op.cpu_p50_ms": statistics.median(cpu),
                "op.cpu_p90_ms": _p90(cpu),
                "jvm.jit_cpu_s": sum(map(sum, op_jit_ms.values())) / 1e3,
            })
            tracer.close()
            with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"), "w") as f:
                json.dump({"run_id": tracer.run_id, "spans": tracer.spans, "op_ms": op_ms,
                           "plan_stats": tracer.plan_stats, "metrics": metrics}, f)
        else:
            # Each op is counted once, by its fastest call: neighbours on a
            # shared host slow single calls by up to 2x, in bursts of
            # seconds, and JIT compiles go on for minutes, so later calls
            # are faster.
            best = [min(xs) for xs in op_ms.values()]
            metrics = {"ops_per_ref_s": 1e3 * len(best) / sum(best) * host}
        ctx = _context(spark, args, op_ms, op_cpu_ms, op_jit_ms, phase_s, setup)
        ctx["probe_ms"] = probe_ms
        ctx["host_factor"] = host
    finally:
        peak_mb = _shut_down()
        shutil.rmtree(tmp, ignore_errors=True)

    if args.trace:
        metrics["jvm.peak_rss_mb"] = peak_mb
    else:
        metrics["setup_s"] = setup["cpu_s"] / host
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)
    ctx["problems"] = problems
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_per_ref_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_util", "ratio"), ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
