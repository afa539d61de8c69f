#!/usr/bin/env python3
"""The repository's benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One client, closed loop: a fresh process generates its inputs from the
seed, starts Spark on ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU),
loads the query catalogue, and runs one untimed-for-wall verification
pass over the workload's operations.  That pass is also the cold warm-up,
and its compute time is part of ``setup_s``; the output checks inside it
are not.  After ``WARMUP_PASSES`` untimed warm passes, outside
``setup_s``, it runs warm passes, each in a seed-permuted order, until
``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` enables
Spark's event log, alternates untraced and traced passes, and prints the
per-layer metrics (see ``layers.py``); the per-operation breakdown goes to
the detail line and to ``perfbench/out/``.  The last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import gc
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

END_TO_END = {
    "wall_s": "s", "setup_s": "s", "driver_rss_mb": "MB", "ok_ratio": "ratio",
}
# Per-layer metrics with their units; all are per traced pass.
PER_LAYER = {
    "session.start_s": "s", "entry.load_s": "s",
    "plan.build_s": "s", "plan.eager_s": "s", "exec.sink_s": "s",
    "spark.driver_only_s": "s", "driver.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.dispatch_ms": "ms",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "scan.bytes_read": "bytes", "scan.rows_read": "rows",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.disk_bytes": "bytes",
    "python.run_s": "s", "python.bytes_sent": "bytes",
    "python.rows_received": "rows",
    "ckpt.calls": "count", "storage.peak_block_bytes": "bytes",
    "broadcast.hints": "count",
    "driver.collect_calls": "count", "driver.collect_rows": "rows",
    "compat.to_pandas_s": "s", "compat.from_pandas_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes",
    "streaming.batches": "count",
    "spark.tasks_failed": "count",
    "trace.overhead_ratio": "ratio", "trace.unattributed_s": "s",
}
# The tables are the same for every run, as the project's fixtures are
# (seed 42); the run's --seed permutes the op order of every pass and
# picks the data_exchange window, so seeds differ in order and slice but
# not in how much work the data makes.
DATA_SEED = 42
# Untimed warm passes between the cold verification pass and the timed
# ones, for both workloads; DESIGN.md has the per-pass walls behind it.
WARMUP_PASSES = 1
# Per-pass totals of these are maxima over the pass's ops, not sums.
PEAK_METRICS = {"storage.peak_block_bytes"}
PRODUCT_FILES = ("__spark_entry__.py", "smartpy_arc_spark/__init__.py",
                 "tools/check_oracle.py")
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_mb(field: str = "VmHWM") -> float:
    """A memory figure of this process from /proc/self/status, in MB:
    the peak resident set (VmHWM) unless another field is named."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{field} not in /proc/self/status")


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def reset_peak_rss() -> None:
    """Return freed heap to the OS and restart VmHWM from the current
    resident set, so the peak read later covers only what follows."""
    import pyarrow

    gc.collect()
    pyarrow.default_memory_pool().release_unused()  # Arrow's own allocator
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def summary(samples: list[float]) -> dict:
    """Median and sample count, plus the highest percentile that has at
    least ten samples beyond it (absent below 11 samples)."""
    out = {"median": statistics.median(samples), "n": len(samples)}
    n = len(samples)
    if n >= 11:
        q = int(100 * (1 - 10 / n))
        if q > 50:
            out[f"p{q}"] = statistics.quantiles(samples, n=100)[q - 1]
    return out


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]


def versions() -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "duckdb": duckdb.__version__}


class Run:
    """One benchmark process: set-up, verification pass, timed passes."""

    def __init__(self, args, workload: wl.Workload | None = None):
        self.args = args
        self.workload = workload or wl.WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.work = os.path.join(
            HERE, ".work", f"{self.workload.name}-s{args.seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None
        self.spark = None
        self.dx = None  # the data_exchange operations, once Spark is up

    # -- set-up -------------------------------------------------------

    def prepare(self) -> None:
        import datagen

        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        self.paths = datagen.write(self.data, self.workload.sf, DATA_SEED)

    def session_conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                " -XX:-UsePerfData",  # no /tmp/hsperfdata_<user> file
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        return conf

    def setup(self) -> dict:
        t0 = time.perf_counter()
        from smartpy_arc_spark import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.session_conf())
        t1 = time.perf_counter()
        import __spark_entry__ as entry

        self.queries = entry.queries()
        t2 = time.perf_counter()
        self.oracles = entry.oracle_sql()
        if self.workload.name == "data_exchange":
            self.dx = wl.DataExchange(self.data, os.path.join(self.work, "out"),
                                      self.args.seed)
        return {"session.start_s": t1 - t0, "entry.load_s": t2 - t1}

    # -- operations ---------------------------------------------------

    def order(self) -> list[str]:
        return self.rng.sample(self.workload.ops, len(self.workload.ops))

    def verify_order(self) -> list[str]:
        return list(self.workload.ops) if self.dx else self.order()

    def execute(self, op: str, span) -> None:
        """Run one op into its sink, with ``span(name)`` around its
        layers."""
        if self.dx:
            self.dx.run(op)
            return
        with span("plan.build"):
            df = self.queries[op](self.spark, self.data)
        with span("exec.sink"):
            df.write.format("noop").mode("overwrite").save()

    def run_op(self, op: str, pass_id: str | None = None) -> float:
        """Run one op; returns its wall seconds.  With ``pass_id`` the op
        runs traced under job group ``<pass_id>:<op>``."""
        t0 = time.perf_counter()
        if pass_id is None:
            self.execute(op, lambda name: contextlib.nullcontext())
            return time.perf_counter() - t0
        op_id = f"{pass_id}:{op}"
        tr, sc = self.tracer, self.spark.sparkContext
        from smartpy_arc_spark.streaming import stream

        stream.last_drain_batches.clear()
        sc.setJobGroup(op_id, op_id)
        try:
            with tr.span("op", op=op_id):
                self.execute(op, tr.span)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tr.op_counts[op_id]["streaming.batches"] += sum(
            stream.last_drain_batches.values())
        return time.perf_counter() - t0

    def verify_pass(self) -> float:
        """Cold pass that collects every op's output and checks it.
        Returns the seconds spent running ops, checks excluded."""
        import duckdb
        from check_oracle import compare, driver_canon

        con = duckdb.connect()
        for t in ORACLE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.paths[t]}')")
        spent = 0.0
        for op in self.verify_order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.dx:
                    result = self.dx.run(op)
                    spent += time.perf_counter() - t0
                    problems = self.dx.check(op, result, con)
                else:
                    pdf = self.queries[op](self.spark, self.data).toPandas()
                    spent += time.perf_counter() - t0
                    driver_canon(pdf)
                    problems = compare(op, pdf, con.sql(self.oracles[op]).df())
            except Exception as e:  # an op that raises is a failed op
                spent += time.perf_counter() - t0
                problems = [f"{type(e).__name__}: {e}".splitlines()[0][:300]]
                traceback.print_exc(file=sys.stderr)
            if problems:
                self.failures.append(f"{op}: " + "; ".join(problems))
        con.close()
        self.end_pass()
        return spent

    def end_pass(self) -> None:
        if self.dx:
            self.dx.reset()

    def timed_pass(self, pass_id: str | None = None):
        """One warm pass; returns (wall seconds, {op: seconds})."""
        ops, t0 = {}, time.perf_counter()
        for op in self.order():
            self.attempted += 1
            try:
                ops[op] = self.run_op(op, pass_id)
            except Exception as e:
                self.failures.append(f"{op}: {type(e).__name__}: {e}"[:300])
                traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        self.end_pass()
        return wall, ops

    def dispatch_ms(self) -> float:
        from bench import dispatch_ms

        return dispatch_ms(self.spark, n=5)

    # -- tear-down ----------------------------------------------------

    def stop_spark(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(self.work))


def measure(run: Run, seconds: float) -> dict:
    """Warm passes until ``seconds`` have passed, at least one."""
    walls, op_times = [], {}
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < seconds:
        wall, ops = run.timed_pass()
        walls.append(wall)
        for op, s in ops.items():
            op_times.setdefault(op, []).append(s)
    return {"walls": walls, "op_times": op_times}


def measure_traced(run: Run, seconds: float) -> dict:
    """Alternate untraced and traced passes until ``seconds`` have
    passed, at least one of each."""
    import layers as tr

    run.tracer = tr.Tracer()
    walls = {"u": [], "t": []}
    t0 = time.perf_counter()
    i = 0
    while (not walls["u"] or not walls["t"]
           or time.perf_counter() - t0 < seconds):
        kind = "ut"[i % 2]
        if kind == "t":
            tr.install(run.tracer)
            try:
                wall, _ = run.timed_pass(pass_id=f"t{i}")
            finally:
                run.tracer.restore()
        else:
            wall, _ = run.timed_pass()
        walls[kind].append(wall)
        i += 1
    return walls


def layer_metrics(run: Run, walls: dict, setup: dict, dispatch: float):
    """Per-layer metrics (median over traced passes of per-pass totals)
    and the per-op breakdown, from the spans and the event log."""
    import layers as tr

    spans = run.tracer.dump()
    windows = {s["op"]: (s["start"], s["end"]) for s in spans
               if s["name"] == "op"}
    logs = glob.glob(os.path.join(run.work, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    per_op, jobs = tr.parse_event_log(tr.read_event_log(logs[0]), windows)
    table = tr.op_layers(spans, per_op, jobs)
    for op_id, counts in run.tracer.op_counts.items():
        table.setdefault(op_id, Counter()).update(counts)
    passes: dict = {}
    for op_id, row in table.items():
        p = passes.setdefault(op_id.split(":")[0], Counter())
        for k, v in row.items():
            p[k] = max(p[k], v) if k in PEAK_METRICS else p[k] + v
    fixed = {**setup, "spark.dispatch_ms": dispatch,
             "trace.overhead_ratio":
                 statistics.median(walls["t"]) / statistics.median(walls["u"])}
    metrics = {}
    for name in PER_LAYER:
        if name in fixed:
            metrics[name] = fixed[name]
        else:
            metrics[name] = statistics.median(
                float(p.get(name, 0)) for p in passes.values())
    by_op: dict = {}
    for op_id, row in table.items():
        by_op.setdefault(op_id.split(":", 1)[1], []).append(row)
    breakdown = {
        op: {k: statistics.median(float(r.get(k, 0)) for r in rows)
             for k in sorted(set().union(*rows))}
        for op, rows in sorted(by_op.items())
    }
    unattributed_jobs = per_op.get(None, Counter())["spark.jobs"]
    return metrics, breakdown, unattributed_jobs


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [f for f in PRODUCT_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tools")]

    run = Run(args)
    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = now - t
        t = now

    try:
        run.prepare()
        phase("prepare_s")
        setup = run.setup()
        verify_s = run.verify_pass()
        setup_s = setup["session.start_s"] + setup["entry.load_s"] + verify_s
        phase("setup_and_verify_s")
        warm_s = sum(run.timed_pass()[0] for _ in range(WARMUP_PASSES))
        phase("warmup_s")
        dispatch_pre = run.dispatch_ms()
        reset_peak_rss()
        rss_base = vm_mb("VmRSS")
        ticks = cpu_ticks()
        if args.trace:
            walls = measure_traced(run, args.seconds)
            pass_walls = walls["t"]
        else:
            result = measure(run, args.seconds)
            pass_walls = result["walls"]
        steal = steal_share(ticks, cpu_ticks())
        dispatch_post = run.dispatch_ms()
        phase("measure_s")
        rss = vm_mb()
        run.stop_spark()
        phase("stop_s")
        failed = len(run.failures)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "data_seed": DATA_SEED,
            "sf": run.workload.sf, "ops": list(run.workload.ops),
            "failures": run.failures,
            "host": {
                "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "cpu_steal_share": steal,
                **versions(),
            },
            "dispatch_ms": {"pre": dispatch_pre, "post": dispatch_post},
            "driver_rss_mb": {"at_reset": rss_base, "peak": rss},
            "inputs": {name: file_digest(path)
                       for name, path in sorted(run.paths.items())},
            "setup": {**setup, "verify_s": verify_s, "warmup_s": warm_s},
            "wall_s": summary(pass_walls),
            "pass_walls": pass_walls,
            "phases": phases,
        }
        if args.trace:
            metrics, breakdown, stray = layer_metrics(
                run, walls, setup, dispatch_pre)
            detail["untraced_wall_s"] = summary(walls["u"])
            detail["per_op"] = breakdown
            detail["jobs_outside_ops"] = stray
            units = PER_LAYER
        else:
            detail["op_s"] = {op: summary(v)
                              for op, v in sorted(result["op_times"].items())}
            metrics = {
                "wall_s": statistics.median(pass_walls),
                "setup_s": setup_s,
                "driver_rss_mb": rss,
                "ok_ratio": (run.attempted - failed) / run.attempted,
            }
            units = END_TO_END
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        run.stop_spark()
        run.cleanup()


if __name__ == "__main__":
    sys.exit(main())
