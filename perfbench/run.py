#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the sql4pandas_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py) are closed loops of one client against
``local[N]``, N = the cores this process may use (pinned through
``SPARK_GRAFT_CPUS``):

- ``sql_mix``: seeded SQL statements over generated sf0.01-sized fixtures,
  through ``Engine.sql`` and ``Result.to_pandas``, mixed with seeded pandas
  frames through ``Engine.register``, a join or aggregate against the
  fixtures and ``to_pandas``; every few frames are also appended to a
  parquet stream and drained;
- ``curation``: passes of the five bench-heavy pipeline entries over a
  seeded near-duplicate corpus, through ``QuerySpec.build`` and ``collect``.

Set-up (``get_spark``, ``load_catalog``, fixture registration) runs four
times: the first launches the JVM, the next three stop the Spark context and
build it again on that JVM; ``setup_s`` is the median of their CPU times,
the report's ``wall_clock.setup_s`` the median of their wall times, and the
per-layer ``setup.cold_s`` the wall time of the first. Operations then run
until their summed latency reaches ``--seconds`` (with ``--trace 1``, a fixed count derived
from ``--seconds``, so counters repeat for a seed). Every result is checked
against DuckDB; DuckDB and the input generator run in a helper process.

With ``--trace 0`` the last line of stdout carries the end-to-end metrics
(the engine's CPU time per set-up and per operation, rows per CPU second,
peak RSS), with ``--trace 1`` the per-layer ones (perfbench/layers.py). The line
before it is a report: widths, versions, sample counts, drain latency, the
failure ratio, the latency and throughput figures, and the share of CPU time
a hypervisor stole while the operations ran (steal time in /proc/stat; a
high share explains a slow run).
Everything a run writes (inputs, warehouse, Spark local and temp dirs,
checkpoints, event log) lives under ``.perfbench_tmp/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 4
#: the loop starts no operation later than this many seconds after process
#: start, whatever the run length, so a slow host still exits in time
DEADLINE_S = 75
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _pin_environment(tmp: str, cpus: int, trace: bool) -> None:
    """Environment for the JVM and the engine; must precede importing pyspark."""
    for d in ("local", "events", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms1g -Dderby.system.home={tmp} -Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "1g",  # the generated inputs are sf0.01-sized
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
    })


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and its reaped
    children), for every process in /proc."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # ended meanwhile
            # fields[1] is the parent; [11:15] utime, stime, cutime, cstime
            procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def _tree_cpu_s(root: int, skip: int) -> float:
    """CPU seconds (user and system, reaped children included) of ``root``
    and every process below it, leaving out the subtree of ``skip``."""
    procs = _proc_table()
    inside = {root: True, skip: False}

    def under(pid: int) -> bool:
        if pid not in inside:
            parent = procs.get(pid, (0, 0))[0]
            inside[pid] = parent in procs and under(parent)
        return inside[pid]

    return sum(t for pid, (_, t) in procs.items() if under(pid)) / CLOCK_TICKS


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method; the value itself for one sample)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Context:
    """What a workload's operations need: engine handles, oracle, tracer."""

    def __init__(self, tmp, fixture_dir, row_counts, oracle, tracer):
        self.tmp, self.fixture_dir, self.row_counts = tmp, fixture_dir, row_counts
        self.oracle, self.tracer = oracle, tracer
        self.info: dict = {}
        self.spark = self.engine = self.catalog = None
        self.log = log

    def cpu_s(self) -> float:
        """CPU seconds so far of the engine's processes: this one, the JVM
        and the Python workers under it; not the oracle process."""
        return _tree_cpu_s(os.getpid(), self.oracle.proc.pid)


def _set_up(fixture_dir: str):
    from sql4pandas_spark.engine import Engine
    from sql4pandas_spark.queries import load_catalog
    from sql4pandas_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    catalog = load_catalog()
    t2 = time.perf_counter()
    engine = Engine(spark)
    engine.register_fixtures(fixture_dir)
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, catalog, engine, {
        "session.get_spark_s": t1 - t0,
        "queries.load_catalog_s": t2 - t1,
        "sources.register_tables_s": t3 - t2,
    }


def _stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _adopt_orphans() -> None:
    """Become the reaper of orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so Python workers that outlive the JVM turn
    into children of this process, which ``_reap_children`` waits for."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}")


def _reap_children(grace_s: float = 20.0) -> None:
    """Wait until no child process is left: reap those that end, send
    SIGTERM to those still running after ``grace_s``, SIGKILL 5 s later."""
    deadline = time.time() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children at all
        kids = [pid for pid, (ppid, _) in _proc_table().items() if ppid == os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            sig = signals.pop(0) if signals else signal.SIGKILL
            log(f"sending {sig.name} to leftover processes {kids}")
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def _run(args, tmp: str, t_start: float) -> dict:
    cpus = len(os.sched_getaffinity(0))
    _pin_environment(tmp, cpus, bool(args.trace))

    from check import Oracle
    from inputs import write_fixtures
    from layers import Tracer, median, read_event_log
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload](args.seed)
    fixture_dir = os.path.join(tmp, "fixtures")
    oracle = Oracle()
    try:
        row_counts = oracle.call(write_fixtures, fixture_dir, args.seed,
                                 workload.scale, workload.near_dup_share)
        oracle.open(fixture_dir)
        marks = {"inputs": time.time()}
        tracer = Tracer(bool(args.trace))
        ctx = Context(tmp, fixture_dir, row_counts, oracle, tracer)

        setups, setup_cpu = [], []
        for rep in range(SETUP_REPS):
            if rep:
                ctx.spark.stop()
            c0 = ctx.cpu_s()
            ctx.spark, ctx.catalog, ctx.engine, parts = _set_up(fixture_dir)
            setup_cpu.append(ctx.cpu_s() - c0)
            setups.append(parts)
        marks["setup"] = time.time()
        tracer.bind(ctx.spark)
        import sql4pandas_spark.functions.transpile as transpile
        import sql4pandas_spark.plans.recursive as recursive

        tracer.wrap(transpile, "to_spark_sql", "transpile.to_spark_sql")
        tracer.wrap(recursive, "run_recursive_sql", "recursive.run_recursive_sql")
        # parsing and analysis of every statement, so that the layers above
        # keep only their own time
        tracer.wrap(ctx.spark, "sql", "spark.sql")
        workload.start(ctx)
        marks["start"] = time.time()

        samples, attempted, failed = [], 0, 0
        engine_s, index = 0.0, 0
        fixed = max(workload.min_ops, round(args.seconds / workload.nominal_op_s))
        steal0, total0 = _cpu_ticks()
        while True:
            n_ops = sum(1 for s in samples if s.kind == "op")
            if index % workload.deck == 0:
                if args.trace and index >= fixed:
                    break
                if not args.trace and engine_s >= args.seconds and n_ops >= workload.min_ops:
                    break
            if time.time() - t_start > DEADLINE_S and n_ops:
                log(f"deadline reached after {n_ops} operations")
                break
            try:
                new = workload.step(ctx, index)
            except Exception:  # an operation failure is counted, not fatal
                log(f"operation {index} failed:\n{traceback.format_exc()}")
                attempted += 1
                failed += 1
                if failed > 3:
                    break
            else:
                samples += new
                attempted += len(new)
                failed += sum(1 for s in new if not s.ok)
                engine_s += sum(s.latency_s for s in new)
            index += 1

        steal1, total1 = _cpu_ticks()
        marks["loop"] = time.time()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
        info = {
            "workload": args.workload, "seed": args.seed, "width": cpus,
            "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": ctx.spark.version,
            "jvm": ctx.spark._jvm.java.lang.System.getProperty("java.version"),
            **ctx.info,
        }
    finally:
        oracle.close()
        _stop_jvm()
    marks["stop"] = time.time()

    ops = [s for s in samples if s.kind == "op"]
    if not ops:
        raise RuntimeError("no operation completed")
    drains = [s.latency_s for s in samples if s.kind == "drain"]
    lat = [s.latency_s for s in ops]
    cold = [s.latency_s for s in ops if s.cold] or lat
    info.update({
        "operations": len(ops), "cold_operations": sum(1 for s in ops if s.cold),
        "drains": len(drains), "drain_p50_s": median(drains),
        "attempted": attempted, "failed": failed,
        "failed_ratio": failed / max(attempted, 1),
        "host.duckdb_p50_s": median(oracle.seconds),
        "host.steal_share": round((steal1 - steal0) / max(total1 - total0, 1), 4),
        "phases_s": {k: round(t - prev, 2) for (k, t), prev
                     in zip(marks.items(), [t_start, *marks.values()])},
        "setup_reps_s": [round(sum(p.values()), 4) for p in setups],
        "setup_cpu_reps_s": [round(c, 3) for c in setup_cpu],
        "latencies_s": [round(s.latency_s, 3) for s in ops],
    })
    # Wall-clock figures follow the host's steal time (the sql_mix median
    # latency read 0.36 s at 1% steal, 0.67 s at 26%), so they are reported
    # here rather than as metrics.
    info["wall_clock"] = {k: {"value": v, "unit": u} for k, (v, u) in {
        "setup_s": (median(sum(p.values()) for p in setups), "s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_p90_s": (_quantile(lat, 90), "s"),
        "cold_latency_p50_s": (median(cold), "s"),
        "ops_per_s": (len(ops) / sum(lat), "1/s"),
        "rows_per_s": (sum(s.rows for s in ops) / sum(lat), "1/s"),
    }.items()}
    if not args.trace:
        cpu = sum(s.cpu_s for s in ops)
        metrics = {
            "setup_s": (median(setup_cpu), "s"),
            "cpu_s_per_op": (cpu / len(ops), "s"),
            "rows_per_cpu_s": (sum(s.rows for s in ops) / cpu, "1/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        read_event_log(os.path.join(tmp, "events"), tracer)
        info["status_tracker_jobs_agree"] = tracer.status_jobs_agree()
        metrics = _layer_metrics(tracer, setups, oracle.seconds, cpus, len(ops), lat)
    print(json.dumps({"report": info}), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer_metrics(tracer, setups, duck_s, cpus, n_ops, lat) -> dict:
    """Per-layer metrics of a traced run: run totals divided by the number of
    operations (seconds are self times of the layer's spans), set-up layers
    as the median of the set-up repetitions."""
    from layers import median
    from workloads import CURATION

    n = max(n_ops, 1)
    selfs = tracer.self_times()

    def per_op(name: str) -> float:
        return sum(op.counters.get(name, 0.0) for op in tracer.ops) / n

    def self_s(name: str) -> float:
        return sum(per.get(name, 0.0) for per in selfs.values()) / n

    wall = sum(op.end - op.start for op in tracer.ops)
    tasks = per_op("scheduler.tasks") * n
    m = {
        "setup.cold_s": (sum(setups[0].values()), "s"),
        **{k: (median(p[k] for p in setups), "s") for k in setups[0]},
        "queries.build_jobs": (per_op("queries.build_jobs"), "count"),
        "engine.result_rows": (per_op("engine.result_rows"), "rows"),
        "streaming.batches": (per_op("streaming.batches"), "count"),
        "streaming.state_tasks": (per_op("streaming.state_tasks"), "count"),
    }
    for span in ("queries.build", "engine.sql", "engine.to_pandas", "engine.register",
                 "engine.drain", "transpile.to_spark_sql", "recursive.run_recursive_sql",
                 "spark.sql"):
        m[f"{span}_s"] = (self_s(span), "s")
    for _, family in CURATION:
        m[f"operators.{family}.stage_s"] = (
            sum(tracer.totals(f"operators.{family}").values()) / n, "s")
    for name in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
                 "codegen.compile_s", "scheduler.task_wait_s", "executor.run_s",
                 "python.worker_s"):
        m[name] = (per_op(name), "s")
    for name in ("codegen.compiles", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                 "scheduler.failed_tasks"):
        m[name] = (per_op(name), "count")
    m["scheduler.empty_task_ratio"] = (per_op("scheduler.empty_tasks") * n / max(tasks, 1), "ratio")
    m["executor.busy_share"] = (per_op("executor.run_s") * n / max(wall * cpus, 1e-9), "ratio")
    for name in ("shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes"):
        m[name] = (per_op(name), "bytes")
    m["host.duckdb_p50_s"] = (median(duck_s), "s")
    m["trace.unattributed_s"] = (self_s("op"), "s")
    m["trace.overhead_s"] = (sum(op.overhead_s for op in tracer.ops) / n, "s")
    m["trace.latency_p50_s"] = (median(lat), "s")
    return m


def main() -> int:
    t_start = time.time()
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True,
                        choices=("sql_mix", "curation"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "sql4pandas_spark")):
        log("no sql4pandas_spark/ here; run from the root of a checkout")
        return 2
    sys.path[:0] = [root, HERE]
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    tmp = os.path.join(root, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp)
    _adopt_orphans()
    try:
        result = _run(args, tmp, t_start)
    finally:
        _reap_children()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_tmp"))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
