#!/usr/bin/env python3
"""Cross-check the traced run's per-op ``spark.jobs`` against
``tools/job_census.py``.

Usage (from the repository root):

    python3 perfbench/census.py [--seed N] [op ...]

Generates the benchmark's inputs (sf0.01) for the seed, runs
``tools/job_census.py`` unmodified on them, then runs the same ops in
one process of this benchmark: a warm-up pass, then one traced pass
whose event log gives the jobs per op.  Both count the jobs of one warm
execution into the no-op sink.  Prints one JSON line with both counts
and the ops on which they disagree, and writes it to
``perfbench/out/census.json``.  Exits 1 if any op disagrees.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run as bench  # noqa: E402
import workloads as wl  # noqa: E402

GRAPH_OPS = ("pagerank_influence", "geometric_median", "mst", "louvain")


def census_jobs(root: str, data_dir: str, ops) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=data_dir)
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "job_census.py"), *ops],
        cwd=root, env=env, capture_output=True, text=True, timeout=900,
        check=True,
    )
    counts = json.loads(out.stdout.strip().splitlines()[-1])
    return {op: counts[op]["jobs"] for op in ops}


def traced_jobs(r: bench.Run) -> dict:
    r.setup()
    r.timed_pass()  # warm-up, as job_census does
    r.tracer = layers.Tracer()
    layers.install(r.tracer)
    try:
        r.timed_pass(pass_id="t0")
    finally:
        r.tracer.restore()
    r.stop_spark()
    spans = r.tracer.dump()
    windows = {s["op"]: (s["start"], s["end"]) for s in spans
               if s["name"] == "op"}
    (log,) = os.listdir(os.path.join(r.work, "eventlog"))
    per_op, _ = layers.parse_event_log(
        layers.read_event_log(os.path.join(r.work, "eventlog", log)), windows)
    return {op_id.split(":", 1)[1]: int(c["spark.jobs"])
            for op_id, c in per_op.items() if op_id is not None}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("ops", nargs="*", default=list(GRAPH_OPS))
    args = p.parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "tools")]
    workload = wl.Workload("census", 0.01, tuple(args.ops))
    r = bench.Run(argparse.Namespace(seed=args.seed, trace=1), workload)
    try:
        r.prepare()
        ours = traced_jobs(r)
        theirs = census_jobs(root, r.data, args.ops)
    finally:
        r.stop_spark()
        r.cleanup()
    result = {
        "seed": args.seed, "sf": workload.sf,
        "perfbench_jobs": ours, "job_census_jobs": theirs,
        "disagree": sorted(op for op in args.ops
                           if ours.get(op) != theirs.get(op)),
    }
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "census.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 1 if result["disagree"] else 0


if __name__ == "__main__":
    sys.exit(main())
