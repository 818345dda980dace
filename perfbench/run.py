#!/usr/bin/env python3
"""Benchmark for the datafiller_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_sparse --seed 1 --seconds 8 --trace 0

It builds the seed's inputs (once per seed, untimed), starts Spark at
``local[<cores>]`` on a fresh JVM, sets up (session start + input open
+ one untimed warm-up iteration: ``setup_s``), then runs iterations in a
closed loop for ``--seconds`` and reports medians.
Every iteration is checked; a mismatch counts as a failed operation.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics (see ``tracing.py``) with ``--trace 1``. The
end-to-end metrics are the ones every workload has:

- ``setup_s``: session start on a fresh JVM + input open + warm-up;
- ``wall_s``: median wall of one iteration (ingest: one pipeline call;
  warehouse: build + resume + range reads + retention; battery: a pass);
- ``points_per_s``: median of grid points emitted per second of
  pipeline wall (ingest, warehouse: build + resume), or of result rows
  per second of the pass (battery);
- ``peak_rss_mb``: the largest, over the timed iterations, of the summed
  peak resident memory (the kernel's ``VmHWM``) of this process, the JVM
  and the Python workers during one iteration.

The line before it, ``perfbench workload {...}``, carries the
workload's own figures (tokens/s and payload bytes per point for
ingest; resume time, range-read p50/p90, bytes per point on disk for the
warehouse). Earlier lines carry the host facts and, for traced runs, the
layer summary; ``.perfbench/results/`` keeps the full record of each run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _engine_root() -> str:
    """The checkout root: the working directory, which must hold the
    engine package and the query battery."""
    root = os.getcwd()
    for need in ("datafiller_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            raise SystemExit(f"perfbench: {need} not found under {root}; run from a checkout root")
    sys.path.insert(0, root)
    return root


def measure(workload, session, seed: int, seconds: float) -> dict:
    """Build the inputs, start Spark, set up (open the inputs and warm
    up), then iterate for ``seconds``. Returns the raw record the
    reporters read."""
    from harness import PeakRss, clear_cache
    from workloads import served_from_cache

    phases = {}
    t0 = time.perf_counter()
    workload.prepare(session.dirs, seed)
    phases["prepare"] = time.perf_counter() - t0
    start_s = session.start()

    spark = session.spark
    iterations = []
    first_tasks = None

    def one(i: int, rss: PeakRss):
        nonlocal first_tasks
        left = clear_cache(spark)
        group = f"perfbench-{i}"
        spark.sparkContext.setJobGroup(group, f"perfbench {workload.name} iteration {i}")
        rss.reset()
        it = workload.iterate(spark, i)
        it.peak_rss = rss.take()
        n, cached = served_from_cache(spark, group, first_tasks)
        if left:
            it.failures.append(f"{left} persisted RDDs survived the cache clear")
        if cached:
            it.failures.append(f"iteration ran {n} tasks, the first ran {first_tasks}: served from cache")
        first_tasks = n if first_tasks is None else first_tasks
        return it

    rss = PeakRss()
    t0 = time.perf_counter()
    workload.open(spark)
    warmup = one(0, rss) if workload.warmup else None
    setup_s = start_s + time.perf_counter() - t0
    t0 = time.perf_counter()
    t_end = t0 + seconds
    i = 1
    while i == 1 or time.perf_counter() < t_end:
        iterations.append(one(i, rss))
        i += 1
    phases["loop"] = time.perf_counter() - t0
    clear_cache(spark)
    t0 = time.perf_counter()
    workload.finish(spark, iterations)
    phases["finish"] = time.perf_counter() - t0
    return {
        "phases": phases,
        "setup_s": setup_s,
        "session_start": start_s,
        "warmup": warmup,
        "iterations": iterations,
    }


def end_to_end(rec: dict) -> dict:
    its = rec["iterations"]
    return {
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
        "wall_s": {"value": statistics.median(it.wall for it in its), "unit": "s"},
        "points_per_s": {"value": statistics.median(it.points / it.engine_s for it in its), "unit": "1/s"},
        "peak_rss_mb": {"value": max(it.peak_rss for it in its) / 2**20, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    root = _engine_root()
    os.environ["TZ"] = "UTC"
    time.tzset()
    from harness import Dirs, Session, host_facts
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    dirs = Dirs(root)
    dirs.fresh()
    host = host_facts()
    print("perfbench host " + json.dumps(host), flush=True)
    workload = WORKLOADS[args.workload]()
    session = Session(dirs, workload.shuffle_partitions, event_log=bool(args.trace))
    try:
        if args.trace:
            import tracing

            record, metrics = tracing.traced(workload, session, args.seed, args.seconds, measure)
        else:
            record = measure(workload, session, args.seed, args.seconds)
            metrics = end_to_end(record)
    finally:
        session.close()
    specific = {k: {"value": v, "unit": u} for k, (v, u) in workload.summary(record["iterations"]).items()}
    print("perfbench workload " + json.dumps(specific), flush=True)
    its = [record["warmup"], *record["iterations"], record.get("traced"), record.get("after")]
    its = [it for it in its if it is not None]
    attempted = sum(it.attempted for it in its)
    failures = [f for it in its for f in it.failures]
    failed = min(len(failures), attempted)
    for f in failures:
        print("perfbench failure: " + f, flush=True)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "phases_s": record["phases"],
        "setup_s": record["setup_s"],
        "iteration_walls_s": [it.wall for it in record["iterations"]],
        "ops": [it.ops for it in record["iterations"]],
        "counts": [it.counts for it in record["iterations"]],
        "workload_metrics": specific,
        "failures": failures,
        "metrics": metrics,
    }
    out = os.path.join(dirs.results, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1, default=str)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
