#!/usr/bin/env python
"""Benchmark harness: headline queries at sf0.1 + north-star pipeline
throughput at two parallelism levels (N and 4N cores — the sandbox
stand-in for N vs 4N executors, per BASELINE.md).

Prints ONE JSON line:
  {"metric": "rollup_pipeline_wall", "value": <sec at 4N>, "unit": "sec",
   "queries": {<headline query wall seconds>},
   "sf": <sf>, "tokens_per_sec_nX": ..., "points_per_sec_nX": ...,
   "scaling_efficiency": ...}

Each parallelism level runs in its own subprocess (a JVM cannot change
its core count after start). The pipeline input is the deterministic
skewed synthetic sequence table (same rows at both levels).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))
BENCH_SOURCES = int(os.environ.get("SPARK_GRAFT_BENCH_SOURCES", "2048"))
BENCH_SPAN = int(os.environ.get("SPARK_GRAFT_BENCH_SPAN", "5760"))
# Parallelism pair for the N vs 4N scaling demo. This sandbox VM's
# memory subsystem saturates at ~0.9 GB/s by 8 threads: even pure
# independent Python processes cap at 0.74 efficiency for 8→32 cores
# and 0.79 for 4→16 (hardware controls in BENCH.md). 1→4 is the range
# where the box itself scales ~linearly, so that's the default pair;
# override with SPARK_GRAFT_BENCH_N_LOW/N_HIGH.
N_HIGH = int(os.environ.get("SPARK_GRAFT_BENCH_N_HIGH", "4"))
N_LOW = int(os.environ.get("SPARK_GRAFT_BENCH_N_LOW", str(max(N_HIGH // 4, 1))))
# "threads" (default): local[N] — N executor threads in one JVM.
# "executors": local-cluster[N,1,4096] — N REAL single-core executor
# JVMs with their own Python workers and socket shuffle, the closest
# this one-box sandbox gets to the north rule's "N vs 4N executors".
BENCH_MODE = os.environ.get("SPARK_GRAFT_BENCH_MODE", "threads")
SKIP_QUERIES = os.environ.get("SPARK_GRAFT_BENCH_SKIP_QUERIES", "") == "1"


def _master(cpus: int) -> str:
    if BENCH_MODE == "executors":
        return f"local-cluster[{cpus},1,4096]"
    return f"local[{cpus}]"
# 3 alternating (low, high) pairs by default: the recorded efficiency is
# the MEDIAN of ≥3 equal-thermal pairs (a single pair is hostage to this
# VM's ±20% run-to-run variance); set 1 for a quick iteration loop
BENCH_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

HEADLINE = [
    "rollup_1m",
    "rollup_1h_cascade",
    "rollup_1d_cascade",
    "gap_linear_1h",
    "gap_small_1h",
    "codec_roundtrip_1h",
    "model_gapfill_1h",
    "tokens_meta",
    "token_rollup_1m",
    "model_gapfill_elm_1h",
    "gap_spline_1h",
    "cosine_topk",
    "minhash_lsh",
    "simhash_near",
    "ivf_topk",
    "embedding_near_dupes_lsh",
    "pricing_summary",
    "asof_join",
    "dedup_exact",
    "dup_clusters",
    "sample_by_hash",
    "pack_sequences",
    "quality",
    "lang_id",
    "fingerprint",
    "multimodal_decode",
    "video_frames",
    "thumbnails",
]


INPUT_DIR = os.environ.get("SPARK_GRAFT_BENCH_INPUT", "/tmp/spark_graft_bench_input")


# ------------------------------------------------------- hardware control
#
# This VM's walls swing ±20-30% run-to-run (thermal throttle, noisy
# host neighbors — observed first-touch bandwidth from 1.7 GB/s down to
# 30 MB/s mid-day). The control below is measured INSIDE every campaign
# and recorded in the same JSON, so a reader can normalize
# round-over-round deltas without trusting prose: if wall regressed but
# the control regressed equally, it's the box, not the code.


def _busy_worker(n_iter: int, q) -> None:
    import numpy as np

    a = np.zeros(4 * 1024 * 1024)  # 32 MB: write + reduce, the bench mix
    t0 = time.time()
    s = 0.0
    for i in range(n_iter):
        a[:] = float(i)
        s += float(a.sum())
    q.put(time.time() - t0 + (s * 0.0))


def _busyloop_efficiency(n_low: int, n_high: int, n_iter: int = 400) -> dict:
    """Scaling efficiency of PURE independent Python processes at the
    bench's own parallelism pair — the box's ceiling for ANY engine.
    Each level runs `level` processes doing identical fixed work;
    efficiency = wall(low) / wall(high) (per-proc work is constant, so
    perfect scaling means equal walls)."""
    import multiprocessing as mp

    import queue as queue_mod

    walls = {}
    for level in (n_low, n_high):
        q: mp.Queue = mp.Queue()
        procs = [mp.Process(target=_busy_worker, args=(n_iter, q)) for _ in range(level)]
        t0 = time.time()
        for p in procs:
            p.start()
        try:
            # a dead worker (OOM, import failure) must fail the control,
            # not hang the whole campaign on a q.get() that never returns
            per_proc = [q.get(timeout=300) for _ in procs]
        except queue_mod.Empty:
            for p in procs:
                p.terminate()
            raise RuntimeError(
                f"busyloop control: a worker at level {level} produced no "
                "result within 300 s (died or wedged)"
            ) from None
        for p in procs:
            p.join()
        walls[level] = max(max(per_proc), time.time() - t0)
    return {
        f"busyloop_wall_n{n_low}": round(walls[n_low], 3),
        f"busyloop_wall_n{n_high}": round(walls[n_high], 3),
        "busyloop_efficiency": round(walls[n_low] / walls[n_high], 3),
    }


def _hardware_control() -> dict:
    """First-touch bandwidth + single-thread GEMM + busy-loop scaling,
    measured in-process right now. ~15 s total.

    The BLAS pin must not leak into the timed worker subprocesses (they
    would then run NumPy single-threaded, changing the very conditions
    round-over-round comparison assumes), so it is restored on exit;
    the driver's own numpy fixes its thread count at first import, so
    pre and post controls still measure under one setting."""
    pinned = "OPENBLAS_NUM_THREADS" not in os.environ
    if pinned:
        os.environ["OPENBLAS_NUM_THREADS"] = "1"  # before numpy import
    try:
        import numpy as np

        # first-touch write bandwidth, 200 MB (page-fault + stream write)
        n = 200 * 1024 * 1024 // 8
        t0 = time.time()
        a = np.empty(n)
        a[:] = 1.0
        firsttouch = (n * 8) / (time.time() - t0) / 1e9
        del a
        # single-thread GEMM throughput (compute-bound control), best of 3
        m = 768
        x = np.ones((m, m))
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            x @ x
            best = min(best, time.time() - t0)
        gemm = 2.0 * m**3 / best / 1e9
        out = {
            "firsttouch_gb_s": round(firsttouch, 3),
            "gemm_gflops_1t": round(gemm, 2),
        }
        out.update(_busyloop_efficiency(N_LOW, N_HIGH))
        return out
    finally:
        if pinned:
            del os.environ["OPENBLAS_NUM_THREADS"]


def _ensure_input(spark) -> str:
    """Materialize the deterministic synthetic table ONCE (untimed): the
    measured job is the *ingest* — read parquet → rollup → gap-fill →
    encode — matching the north metric's 'tokens/sec ingest'."""
    from datafiller_spark.sources import synth_sequences

    path = os.path.join(INPUT_DIR, f"docs_{BENCH_DOCS}_s{BENCH_SOURCES}_m{BENCH_SPAN}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_sequences(
            spark,
            BENCH_DOCS,
            mean_tokens=128,
            span_minutes=BENCH_SPAN,
            partitions=64,
            n_sources=BENCH_SOURCES,
        ).write.mode("overwrite").parquet(path)
    return path


def _pipeline_worker(cpus: int) -> dict:
    sys.path.insert(0, REPO)
    from datafiller_spark.plans import run_pipeline
    from datafiller_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench_n{cpus}",
        master=_master(cpus),
        # ~8 tasks per core: with ~2048 series hashed into partitions, a
        # coarse 1-task-per-core layout leaves cores idle behind the last
        # straggler of the Python kernel stage (measured: 22.6s → 17.9s
        # at n4 going from 8 to 32 partitions); on a real cluster this is
        # the usual 2-3x-total-cores rule, scaled up because kernel-stage
        # task cost is per-series, not per-byte
        shuffle_partitions=max(8 * cpus, 8),
        # split the scan fine enough that every core gets input slices
        # (~800MB input; default 128MB splits would cap the scan at ~7 tasks)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)},
    )
    path = _ensure_input(spark)
    seqs = spark.read.parquet(path)
    total_tokens = seqs.agg({"n_tok": "sum"}).first()[0]

    t0 = time.time()
    res = run_pipeline(
        spark,
        seqs,
        ["source"],
        "event_ts",
        "n_tok",
        min_samples_train=20,
        collect_metrics=False,
        fused=True,
        # the pipeline rolls up to 1m before its per-series kernel: on
        # this 30%-hot source, map-side combine cuts the hot key from
        # 6×10^5 raw rows to ≤5760 tier rows in its kernel task
    )
    wall = time.time() - t0
    out = {
        "cpus": cpus,
        "wall": wall,
        "tokens": int(total_tokens),
        "points": res.points,
        "tokens_per_sec": total_tokens / wall,
        "points_per_sec": res.points / wall,
    }
    spark.stop()
    return out


def _queries_worker(cpus: int) -> dict:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from datafiller_spark.session import get_spark

    spark = get_spark(
        app_name="bench_queries", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    qs = entrymod.queries()
    timings = {}
    for name in HEADLINE:
        walls = []
        for _ in range(2):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            n = df.count()
            walls.append(time.time() - t0)
        # headline = steady-state (best of 2): the first run pays one-off
        # JVM JIT + codegen compilation + cold page cache, 3-6x the real
        # cost on this VM; the cold value is recorded alongside
        timings[name] = round(min(walls), 3)
        timings[f"{name}_cold"] = round(walls[0], 3)
        timings[f"{name}_rows"] = n

    # ANN quality tracked round over round: recall@5 of the LSH top-k
    # against the exact brute-force top-k on the same queries
    exact: dict = {}
    for r in qs["cosine_topk"](spark, SF_DIR).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    ann: dict = {}
    for r in qs["ann_lsh_topk"](spark, SF_DIR).collect():
        ann.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[q] & ann.get(q, set())) / len(exact[q]) for q in exact if exact[q]
    ]
    timings["ann_recall_at_5"] = round(sum(recalls) / max(len(recalls), 1), 3)
    spark.stop()
    return timings


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        kind, cpus = sys.argv[2], int(sys.argv[3])
        result = _pipeline_worker(cpus) if kind == "pipeline" else _queries_worker(cpus)
        print("BENCH_RESULT " + json.dumps(result))
        return

    def run_worker(kind: str, cpus: int) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", kind, str(cpus)],
            capture_output=True,
            text=True,
            timeout=1800,
            cwd=REPO,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("BENCH_RESULT "):
                return json.loads(line[len("BENCH_RESULT ") :])
        raise RuntimeError(f"worker {kind}@{cpus} produced no result:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")

    n_low, n_high = N_LOW, N_HIGH
    # In-artifact hardware control, measured before and after the
    # pipeline campaign in this same process: lets a reader normalize
    # round-over-round wall deltas (control moved too → box drift, not
    # code). ~15 s each; runs before the first cooldown so the campaign
    # thermal protocol is untouched.
    control_pre = _hardware_control()
    # The box throttles under sustained load (±20% run-to-run), so the
    # two levels are measured ALTERNATING with equal cooldowns before
    # every run — both levels get the same thermal opportunity — and the
    # ratio is taken between the per-level bests. Per-iteration pair
    # efficiencies are reported too, so the spread is visible.
    runs: dict[int, list[dict]] = {n_low: [], n_high: []}
    samples = []
    for i in range(BENCH_REPEATS):
        for level in (n_low, n_high):
            # equal cooldown before EVERY run, including the very first,
            # so both levels of every pair share the same thermal history
            time.sleep(120)
            runs[level].append(run_worker("pipeline", level))
        samples.append(
            round(
                (runs[n_high][i]["points_per_sec"] / runs[n_low][i]["points_per_sec"])
                / (n_high / n_low),
                3,
            )
        )
    control_post = _hardware_control()
    low = min(runs[n_low], key=lambda d: d["wall"])
    high = min(runs[n_high], key=lambda d: d["wall"])
    if SKIP_QUERIES:
        queries = {}
    else:
        time.sleep(180)  # cool down: query walls must not be throttle-inflated
        queries = run_worker("queries", CPUS)

    speedup = high["points_per_sec"] / low["points_per_sec"]
    # headline efficiency = MEDIAN of the same-iteration pairs: each pair
    # compares two runs under the same thermal history, whereas
    # best(high)/best(low) mixes a coldest-low with a coldest-high run
    # and is biased by whichever level profits more from a cold box

    def _median(vals: list[float]) -> float:
        s = sorted(vals)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    efficiency = _median(samples) if samples else speedup / (n_high / n_low)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    warm_queries = {
        k: v
        for k, v in queries.items()
        if not k.endswith(("_rows", "_cold")) and k != "ann_recall_at_5"
    }
    # ---- artifact layout (round 6, BENCH_r05 `parsed: null` postmortem):
    # the driver records the LAST ~2000 chars of stdout and parses the
    # final line as the round's metrics. Round 5's single fat line grew
    # past that window and the headline was lost. Now: the FULL record
    # (per-query cold walls, run-by-run pipeline walls, full controls) is
    # written to bench_detail_last.json and printed on an EARLIER
    # "BENCH_DETAIL" line; the final line is a compact headline kept
    # under 1800 chars by construction (length-guarded below).
    detail = {
        "metric": "rollup_pipeline_wall",
        "value": round(high["wall"], 3),
        "unit": "sec",
        "parallelism_mode": BENCH_MODE,
        "queries": warm_queries,
        "queries_cold_first_run": {
            k[: -len("_cold")]: v for k, v in queries.items() if k.endswith("_cold")
        },
        "ann_recall_at_5": queries.get("ann_recall_at_5"),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "bench_docs": BENCH_DOCS,
        "tokens_ingested": high["tokens"],
        "rolled_up_points": high["points"],
        f"tokens_per_sec_n{n_low}": round(low["tokens_per_sec"], 1),
        f"tokens_per_sec_n{n_high}": round(high["tokens_per_sec"], 1),
        f"points_per_sec_n{n_low}": round(low["points_per_sec"], 1),
        f"points_per_sec_n{n_high}": round(high["points_per_sec"], 1),
        f"wall_n{n_low}": round(low["wall"], 3),
        f"wall_n{n_high}": round(high["wall"], 3),
        "pipeline_walls_all_runs": {
            f"n{lvl}": [round(r["wall"], 3) for r in rs] for lvl, rs in runs.items()
        },
        "scaling_speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
        "scaling_efficiency_samples": samples,
        "scaling_efficiency_bestpair": round(
            (high["points_per_sec"] / low["points_per_sec"]) / (n_high / n_low), 3
        ),
        "hardware_control_pre": control_pre,
        "hardware_control_post": control_post,
        "tracer_queries": ["simhash_near", "dedup_exact"],
    }
    try:
        with open(os.path.join(REPO, "bench_detail_last.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the BENCH_DETAIL stdout line still has it
    print("BENCH_DETAIL " + json.dumps(detail))

    def _hw_compact(ctl: dict) -> dict:
        return {
            k: ctl[k]
            for k in ("firsttouch_gb_s", "gemm_gflops_1t", "busyloop_efficiency")
            if k in ctl
        }

    result = {
        "metric": "rollup_pipeline_wall",
        "value": round(high["wall"], 3),
        "unit": "sec",
        "parallelism_mode": BENCH_MODE,
        "queries": warm_queries,
        "ann_recall_at_5": queries.get("ann_recall_at_5"),
        "sf": detail["sf"],
        "rolled_up_points": high["points"],
        f"tokens_per_sec_n{n_high}": round(high["tokens_per_sec"], 1),
        f"points_per_sec_n{n_low}": round(low["points_per_sec"], 1),
        f"points_per_sec_n{n_high}": round(high["points_per_sec"], 1),
        f"wall_n{n_low}": round(low["wall"], 3),
        f"wall_n{n_high}": round(high["wall"], 3),
        "scaling_efficiency": round(efficiency, 3),
        "scaling_efficiency_samples": samples,
        # in-artifact hardware state: normalize wall deltas against these
        # (firsttouch_gb_s ~1.7 healthy / ~0.03 observed under a noisy
        # host neighbor; busyloop_efficiency is the box's scaling ceiling
        # for ANY engine at this parallelism pair)
        "hardware_control_pre": _hw_compact(control_pre),
        "hardware_control_post": _hw_compact(control_post),
        # untouched-code thermal tracers: their warm walls (in "queries")
        # move only with the box, so they date-stamp the thermal state
        "tracer_queries": ["simhash_near", "dedup_exact"],
        "detail": "bench_detail_last.json + BENCH_DETAIL stdout line",
    }
    line = json.dumps(result)
    if len(line) > 1800:
        # keep the headline parseable no matter how the query set grows:
        # keep only the slowest queries (tracers always included)
        keep = dict(
            sorted(warm_queries.items(), key=lambda kv: -kv[1])[:10]
        )
        for t in result["tracer_queries"]:
            if t in warm_queries:
                keep[t] = warm_queries[t]
        result["queries"] = keep
        result["queries_truncated_to_slowest"] = True
        line = json.dumps(result)
    print(line)


if __name__ == "__main__":
    main()
