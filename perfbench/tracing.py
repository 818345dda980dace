"""The traced run: spans, Spark event-log layers and kernel replay.

A traced run first measures the workload as an untraced run does, but
with Spark's event log on, then runs one iteration with spans and one
more without (the untraced iterations either side are the reference for
the tracing overhead). Spans are recorded around the benchmark's calls
into each layer (name, start, end, parent, run id), kept in memory and
written to ``.perfbench/results`` at the end. Each span tags its Spark jobs with
``setJobDescription``; the event log then gives every stage of those
jobs, which become child spans named after the layer they ran:

- ``kernel_stage``: stages that ship rows to Python workers;
- ``rollup``: stages before the first Python stage of a span (the scan,
  the partial and the final aggregate);
- ``plans``: stages after it (the pipeline's stats aggregation);
- ``warehouse``/``codec``: every other stage of the warehouse's
  pipeline calls / its range reads; the battery's stages go to the
  query's operator family.

A span's self time is its duration minus the part of it its children
cover, so the self times of one iteration add up to its wall.

``ingest`` workloads also time the rollup and the kernel stage alone on
the same input, and replay every series through the kernel's public
functions in this process (``kernel.*``, ``codec.*``). The warehouse
times each staged step (rollup, cascade, model gap-fill, encode, parquet
write) alone on its input.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

import workloads

LAYER_ORDER = ("kernel_stage", "rollup", "codec", "warehouse", "plans")


class Tracer:
    """In-memory span recorder for one run."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(f"perfbench/{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.spark is not None:
                up = f"perfbench/{self._stack[-1]}" if self._stack else None
                self.spark.sparkContext.setJobDescription(up)


# ------------------------------------------------------------ event log


def read_event_logs(directory: str) -> dict:
    """Stages, tasks and job tags from every event log in ``directory``.

    Returns ``{(app, stage): {...}}`` where each stage holds
    its span tag, submission/completion time (epoch s), task run and GC
    seconds, task durations, shuffle bytes written and the summed SQL
    metrics (by name) it updated."""
    stages: dict = {}
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        if path.endswith(".inprogress"):
            continue
        app = os.path.basename(path)
        tag_of_stage: dict = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", ()):
                        tag_of_stage[sid] = tag
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]), _new_stage())
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["durations"].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), _new_stage())
                    st["tag"] = tag_of_stage.get(info["Stage ID"])
                    st["start"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
                    for acc in info.get("Accumulables", ()):
                        try:
                            st["sql"][acc["Name"]] = st["sql"].get(acc["Name"], 0) + int(acc["Value"])
                        except (KeyError, TypeError, ValueError):
                            pass
    return {k: v for k, v in stages.items() if v["end"]}


def _new_stage() -> dict:
    return {"tag": None, "start": 0.0, "end": 0.0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_write": 0, "durations": [], "sql": {}}


def _is_python(stage: dict) -> bool:
    return any("Python" in name for name in stage["sql"])


def attach_stages(spans: list[dict], stages: dict, workload) -> list[dict]:
    """One child span per Spark stage, under the span whose jobs ran
    it, named after the stage's layer (``workload.stage_layer``)."""
    names = {sp["id"]: sp["name"] for sp in spans}
    by_span: dict = {}
    for st in stages.values():
        tag = st["tag"] or ""
        if tag.startswith("perfbench/"):
            by_span.setdefault(int(tag.split("/")[1]), []).append(st)
    out = []
    for sid, group in by_span.items():
        group.sort(key=lambda s: s["start"])
        first_py = next((s["start"] for s in group if _is_python(s)), None)
        for st in group:
            before = first_py is None or st["start"] < first_py
            st["layer"] = workload.stage_layer(names[sid], _is_python(st), before)
            out.append({"name": st["layer"], "parent": sid, "start": st["start"], "end": st["end"], "stage": st})
    return out


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(ops: list[dict], stage_spans: list[dict], workload) -> dict:
    """Self seconds per layer over the operation spans ``ops``: an
    operation's own time (its span minus what its stages cover) goes to
    ``workload.layer_of(op)``, each stage's to its layer. Where stages
    of two layers overlap, the overlap goes to the one that comes first
    in ``LAYER_ORDER``."""
    out: dict = {}
    kids: dict = {}
    for sp in stage_spans:
        kids.setdefault(sp["parent"], []).append(sp)
    for sp in ops:
        lo, hi = sp["start"], sp["end"]
        mine = [(c["name"], max(c["start"], lo), min(c["end"], hi)) for c in kids.get(sp["id"], ())]
        mine = [m for m in mine if m[2] > m[1]]
        layer = workload.layer_of(sp["name"])
        out[layer] = out.get(layer, 0.0) + (hi - lo) - _union([(s, e) for _, s, e in mine])
        order = [x for x in LAYER_ORDER] + sorted({n for n, _, _ in mine} - set(LAYER_ORDER))
        covered: list = []
        for name in order:
            part = [(s, e) for n, s, e in mine if n == name]
            if part:
                out[name] = out.get(name, 0.0) + _union(covered + part) - _union(covered)
                covered += part
    return out


# ------------------------------------------------------------ replay

TIER_STEP = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_FREQ = {"1m": "min", "1h": "h", "1d": "D"}
TIER_CHUNK = {"1m": "D", "1h": "M", "1d": "Y"}


def replay_kernel(pdf, sample: list, lags=(1, 2, 3, -1, -2, -3), gaps=4) -> dict:
    """Run the series of the keys in ``sample`` through the per-series kernel's public
    functions in this process, tier by tier, timing each step.

    Returns per-series milliseconds (summed over the three tiers) and
    the fill counts of ``TimeSeriesImputer.fill_counts_``."""
    import pandas as pd

    from datafiller_spark.kernels import (
        TimeSeriesImputer,
        build_lag_matrix,
        interpolate_small_gaps,
        make_time_features,
    )
    from datafiller_spark.kernels.codec import decode_points, encode_points

    ms = {k: 0.0 for k in ("grid", "interp", "lag_matrix", "impute", "encode", "decode")}
    counts = {"interp": 0, "model": 0, "fallback": 0, "unfilled": 0}
    points = payload = 0

    def clock(key, fn):
        t0 = time.perf_counter()
        out = fn()
        ms[key] += (time.perf_counter() - t0) * 1000.0
        return out

    for src in sample:
        g = pdf[pdf["source"] == src]
        minutes = np.asarray(g["event_ts"].to_numpy(), dtype="datetime64[m]").astype(np.int64)
        order = np.argsort(minutes, kind="stable")
        v = g["n_tok"].to_numpy().astype(np.int64)[order]
        ts_sec = minutes[order] * 60
        for tier, step in TIER_STEP.items():
            trunc = ts_sec - ts_sec % step
            starts = np.concatenate(([0], np.flatnonzero(np.diff(trunc)) + 1))
            t = trunc[starts]
            avg = np.add.reduceat(v, starts).astype(np.float64) / np.diff(np.append(starts, len(trunc)))

            def grid():
                pos = (t - t[0]) // step
                vals = np.full(int(pos[-1]) + 1, np.nan)
                vals[pos] = avg
                index = pd.date_range(pd.Timestamp(int(t[0]), unit="s"), periods=len(vals), freq=TIER_FREQ[tier])
                return pd.DataFrame({"avg_value": vals}, index=index)

            frame = clock("grid", grid)
            clock("interp", lambda: interpolate_small_gaps(frame["avg_value"], gaps))
            clock("lag_matrix", lambda: build_lag_matrix(
                frame.to_numpy(), np.asarray(lags), make_time_features(frame.index).to_numpy()))
            imputer = TimeSeriesImputer(lags=list(lags), min_samples_train=workloads.MIN_SAMPLES_TRAIN,
                                        interpolate_gaps_less_than=gaps)
            filled = clock("impute", lambda: imputer(frame))
            for k in ("interp", "model", "fallback"):
                counts[k] += int(imputer.fill_counts_.get(k, 0))
            vals = filled["avg_value"].to_numpy()
            counts["unfilled"] += int(np.isnan(vals).sum())
            secs = filled.index.asi8 // 10**9
            period = secs.astype("datetime64[s]").astype(f"datetime64[{TIER_CHUNK[tier]}]")
            cut = np.concatenate(([0], np.flatnonzero(period[1:] != period[:-1]) + 1, [len(secs)]))
            for s, e in zip(cut[:-1], cut[1:]):
                blob = clock("encode", lambda: encode_points(secs[s:e].astype(np.int64), vals[s:e]))
                clock("decode", lambda: decode_points(blob))
                points += int(e - s)
                payload += len(blob)
    n = max(len(sample), 1)
    return {
        "series": len(sample),
        "per_series_ms": {k: x / n for k, x in ms.items()},
        "counts": counts,
        "bytes_per_point": payload / max(points, 1),
    }


# ------------------------------------------------------------ the run

BATTERY_FAMILIES = sorted(set(workloads.BATTERY.values()))


WAREHOUSE_STEPS = ("rollup", "cascade", "model_gapfill", "encode_tier", "write")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in print order (the same set for
    every workload; a layer a workload never reaches reads 0)."""
    names = [
        "session.start_s", "spark.gc_s", "spark.task_s",
        "rollup.wall_s", "rollup.rows_out", "rollup.task_s", "rollup.shuffle_write_mb", "rollup.self_s",
        "kernel_stage.wall_s", "kernel_stage.task_s", "kernel_stage.task_skew",
        "kernel_stage.python_in_mb", "kernel_stage.python_out_mb", "kernel_stage.math_share",
        "kernel_stage.self_s",
        "kernel.series", "kernel.grid_ms", "kernel.interp_ms", "kernel.lag_matrix_ms", "kernel.impute_ms",
        "kernel.gaps_by_interp", "kernel.gaps_by_model", "kernel.gaps_by_fallback", "kernel.gaps_unfilled",
        "codec.encode_ms", "codec.decode_ms", "codec.bytes_per_point", "codec.self_s",
        "plans.self_s",
        "ingest.tokens_per_s", "ingest.bytes_per_point", "ingest.empty_bucket_share",
        "warehouse.build_s", "warehouse.resume_s", "warehouse.retention_s",
        "warehouse.range_read_p50_ms", "warehouse.range_read_p90_ms", "warehouse.range_reads",
        "warehouse.bytes_per_point", "warehouse.bytes_on_disk_mb",
        "warehouse.bytes_written_mb", "warehouse.files", "warehouse.self_s",
    ]
    names += [f"warehouse.step_{s}_s" for s in WAREHOUSE_STEPS]
    names += [f"battery.{q}_s" for q in workloads.BATTERY]
    names += [f"battery.{f}_s" for f in BATTERY_FAMILIES]
    names += ["trace.untraced_wall_s", "trace.traced_wall_s", "trace.overhead_s", "trace.coverage"]
    return names


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_per_s": "1/s", "share": "ratio", "skew": "ratio",
         "coverage": "ratio", "bytes_per_point": "B"}


def unit_of(name: str) -> str:
    for suffix in ("_per_s", "bytes_per_point", "_ms", "_mb", "_s", "share", "skew", "coverage"):
        if name.endswith(suffix):
            return UNITS[suffix]
    return "count"


def probe_ingest(workload, spark, record: dict, seed: int) -> dict:
    """The rollup and the kernel stage each timed alone on the same
    input, and the in-process kernel replay."""
    from datafiller_spark.operators import cascade_gapfill_encode_all, rollup

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    workloads.clear_cache(spark)
    t1m = rollup(spark.read.parquet(workload.path), workloads.KEYS, "event_ts", "n_tok", "1m")
    _, rollup_s = workload.timed("probe.rollup", lambda: noop(t1m))
    tier = t1m.cache()
    rows = tier.count()
    stage = cascade_gapfill_encode_all(
        tier, workloads.KEYS, min_samples_train=workloads.MIN_SAMPLES_TRAIN, interpolate_gaps_less_than=4
    )
    _, kernel_s = workload.timed("probe.kernel_stage", lambda: noop(stage))
    workloads.clear_cache(spark)

    sources = [str(x) for x in sorted(workload.pdf["source"].unique())]
    rep = replay_kernel(workload.pdf, sources)
    ms, counts = rep["per_series_ms"], rep["counts"]
    untraced = statistics.median(it.wall for it in record["iterations"])
    return {
        "rollup.wall_s": rollup_s,
        "rollup.rows_out": rows,
        "kernel_stage.wall_s": kernel_s,
        "kernel.series": rep["series"],
        "kernel.grid_ms": ms["grid"],
        "kernel.interp_ms": ms["interp"],
        "kernel.lag_matrix_ms": ms["lag_matrix"],
        "kernel.impute_ms": ms["impute"],
        "kernel.gaps_by_interp": counts["interp"],
        "kernel.gaps_by_model": counts["model"],
        "kernel.gaps_by_fallback": counts["fallback"],
        "kernel.gaps_unfilled": counts["unfilled"],
        "codec.encode_ms": ms["encode"],
        "codec.decode_ms": ms["decode"],
        "codec.bytes_per_point": rep["bytes_per_point"],
        "ingest.tokens_per_s": workload.tokens / untraced,
        "ingest.bytes_per_point": workload.summary(record["iterations"])["bytes_per_point"][0],
        "ingest.empty_bucket_share": workload.empty_share,
        # kernel math (grid + impute + encode) of every series
        "_math_s": (ms["grid"] + ms["impute"] + ms["encode"]) * len(sources) / 1000.0,
    }


def probe_warehouse(workload, spark, record: dict, seed: int) -> dict:
    """The untraced runs' warehouse figures, and each staged step of the
    default pipeline timed alone on the whole input, every step reading
    the cached output of the one before."""
    from datafiller_spark.operators import cascade, encode_tier, model_gapfill, rollup

    out = {f"warehouse.{k}": v for k, (v, _) in workload.summary(record["iterations"]).items()}
    steps = {s: 0.0 for s in WAREHOUSE_STEPS}

    def step(name, make):
        df = make()
        _, dt = workload.timed(f"probe.{name}", lambda: df.cache().count())
        steps[name] += dt
        return df

    workloads.clear_cache(spark)
    raw = spark.read.parquet(workload.path)
    tiers = {"1m": step("rollup", lambda: rollup(raw, workloads.KEYS, "event_ts", "n_tok", "1m"))}
    tiers["1h"] = step("cascade", lambda: cascade(tiers["1m"], workloads.KEYS, "1h"))
    tiers["1d"] = step("cascade", lambda: cascade(tiers["1h"], workloads.KEYS, "1d"))
    target = os.path.join(workload.dirs.work, "probe_write")
    for tier, tdf in tiers.items():
        filled = step("model_gapfill", lambda: model_gapfill(
            tdf, workloads.KEYS, "bucket", ["avg_value"],
            min_samples_train=workloads.MIN_SAMPLES_TRAIN, interpolate_gaps_less_than=4))
        enc = step("encode_tier", lambda: encode_tier(filled, workloads.KEYS, "bucket", "avg_value", tier))
        _, dt = workload.timed("probe.write", lambda: enc.write.mode("overwrite").parquet(target))
        steps["write"] += dt
    workloads.clear_cache(spark)
    out.update({f"warehouse.step_{k}_s": v for k, v in steps.items()})
    return out


def probe_battery(workload, spark, record: dict, seed: int) -> dict:
    """Per-query and per-family medians of the untraced passes."""
    out = {}
    for q, family in workloads.BATTERY.items():
        wall = statistics.median(it.ops[q][0] for it in record["iterations"])
        out[f"battery.{q}_s"] = wall
        out[f"battery.{family}_s"] = out.get(f"battery.{family}_s", 0.0) + wall
    return out


def traced(workload, session, seed: int, seconds: float, measure) -> tuple[dict, dict]:
    """The untraced measurement, then one traced iteration, one more
    untraced one, and the workload's layer probes, all in one session
    whose event log is on from the start. The mean of the untraced
    iterations either side of the traced one is the reference for the
    tracing overhead (spans and job tags; the event log's own cost is the
    difference between this run's untraced wall and a ``--trace 0``
    run's ``wall_s``). Returns (record, per-layer metrics)."""
    session.event_log = True
    record = measure(workload, session, seed, seconds)
    spark = session.spark
    workloads.clear_cache(spark)
    tracer = Tracer(run_id=f"{workload.name}-{seed}", spark=spark)
    workload.tracer = tracer
    try:
        it = workload.iterate(spark, 10_000)
        n_ops = len(tracer.spans)
        # bracket the traced iteration with untraced ones: the JVM keeps
        # warming, so the one before alone would overstate the overhead
        workload.tracer = None
        workloads.clear_cache(spark)
        after = workload.iterate(spark, 10_001)
        workload.finish(spark, [it, after])
        record["traced"], record["after"] = it, after
        untraced = (record["iterations"][-1].wall + after.wall) / 2
        workload.tracer = tracer
        probe = {
            workloads.Ingest: probe_ingest,
            workloads.Warehouse: probe_warehouse,
            workloads.QueryBattery: probe_battery,
        }.get(type(workload))
        extra = probe(workload, spark, record, seed) if probe else {}
    finally:
        workload.tracer = None
    session.stop()  # flushes and closes the event log

    stage_spans = attach_stages(tracer.spans, read_event_logs(session.dirs.events), workload)
    ops = tracer.spans[:n_ops]
    op_ids = {sp["id"] for sp in ops}
    layer_self = self_times(ops, stage_spans, workload)
    traced_wall = it.wall
    it_stages = [s["stage"] for s in stage_spans if s["parent"] in op_ids]
    by_layer = {layer: [s for s in it_stages if s["layer"] == layer] for layer in LAYER_ORDER}
    py = by_layer["kernel_stage"]
    durations = [d for s in py for d in s["durations"]]
    m = {name: 0.0 for name in per_layer_names()}
    m.update({
        "session.start_s": record["session_start"],
        "spark.gc_s": sum(s["gc_s"] for s in it_stages),
        "spark.task_s": sum(s["task_s"] for s in it_stages),
        "rollup.task_s": sum(s["task_s"] for s in by_layer["rollup"]),
        "rollup.shuffle_write_mb": sum(s["shuffle_write"] for s in by_layer["rollup"]) / 2**20,
        "rollup.self_s": layer_self.get("rollup", 0.0),
        "kernel_stage.task_s": sum(s["task_s"] for s in py),
        "kernel_stage.task_skew": max(durations) / statistics.median(durations) if durations else 0.0,
        "kernel_stage.python_in_mb": sum(s["sql"].get("data sent to Python workers", 0) for s in py) / 2**20,
        "kernel_stage.python_out_mb": sum(s["sql"].get("data returned from Python workers", 0) for s in py) / 2**20,
        "kernel_stage.self_s": layer_self.get("kernel_stage", 0.0),
        "plans.self_s": layer_self.get("plans", 0.0),
        "codec.self_s": layer_self.get("codec", 0.0),
        "warehouse.self_s": layer_self.get("warehouse", 0.0),
        "trace.untraced_wall_s": untraced,
        "trace.traced_wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced,
        "trace.coverage": sum(layer_self.values()) / untraced,
    })
    m.update({k: v for k, v in extra.items() if k in m})
    if extra.get("_math_s") and m["kernel_stage.task_s"]:
        m["kernel_stage.math_share"] = extra["_math_s"] / m["kernel_stage.task_s"]
    largest = max(layer_self, key=layer_self.get) if layer_self else None
    print("perfbench layers " + json.dumps({"self_s": layer_self, "largest": largest,
                                            "traced_wall_s": traced_wall, "untraced_wall_s": untraced}),
          flush=True)
    with open(os.path.join(session.dirs.results, f"{workload.name}_seed{seed}_spans.json"), "w") as fh:
        json.dump({"spans": tracer.spans,
                   "stages": [{k: v for k, v in s.items() if k != "stage"} for s in stage_spans],
                   "self_s": layer_self, "largest": largest}, fh, indent=1)
    metrics = {n: {"value": float(m[n]), "unit": unit_of(n)} for n in per_layer_names()}
    return record, metrics
