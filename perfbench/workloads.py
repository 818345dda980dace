"""The benchmark's workloads: inputs, one timed iteration, and checks.

A workload runs in one closed loop: one client, one operation at a
time, the next only after the previous one completed and was checked.
``iterate`` times only the engine calls; every check runs after the
clock stops and reports mismatches as strings, each of which counts as
one failed operation.

Workload shapes, and why they are smaller than the tables of record:

- ``ingest_sparse`` keeps the per-series shape of ``bench.py``'s table
  (2M docs, 2048 sources, 4-day minute grid): the two hot sources see
  every minute, and each tail source gets about 490 docs over 5760
  minutes, as there. It has 128 sources instead of 2048 and 16x fewer
  docs, so one pipeline call takes about 3 s instead of about 20 s and a
  run holds several calls.
- ``warehouse`` is dominated by fixed per-job costs: at 500k docs the
  first build took 108 s and the resume 215 s; at 16k docs they take
  about 14 s and 12 s, which is as small as one run allows.
- ``query_battery`` runs one to three queries of every operator family
  on generated tables of about the size of the sf0.01 test data.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import inputs
from harness import Dirs, clear_cache, tasks_in_group

KEYS = ["source"]
MIN_SAMPLES_TRAIN = 20
TIERS = ("1m", "1h", "1d")


@dataclass
class Iteration:
    """One timed iteration: its wall, the points (or rows) it produced
    and the engine seconds that produced them, its individually timed
    operations, workload-specific counts and the failed checks."""

    wall: float
    points: int
    engine_s: float
    ops: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    attempted: int = 1
    failures: list[str] = field(default_factory=list)
    #: peak RSS (bytes) of this process, the JVM and the Python workers
    peak_rss: int = 0


@contextmanager
def _no_span(name):
    yield None


def _minutes(ts) -> np.ndarray:
    return np.asarray(ts, dtype="datetime64[m]").astype(np.int64)


def _grid_points(pdf) -> tuple[int, int]:
    """(grid rows the 1m/1h/1d tiers must hold, 1m grid rows): per key,
    every bucket from its first to its last observed one."""
    total = minute = 0
    for _, g in pdf.groupby("source")["event_ts"]:
        m = _minutes(g.to_numpy())
        lo, hi = int(m.min()), int(m.max())
        minute += (hi - lo) + 1
        total += (hi - lo) + 1 + (hi // 60 - lo // 60) + 1 + (hi // 1440 - lo // 1440) + 1
    return total, minute


def _decode_chunks(rows) -> dict:
    """{source: (ts seconds, values)} from chunk rows, in time order."""
    from datafiller_spark.kernels.codec import decode_points

    per: dict = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["chunk_start"])):
        ts, vals = decode_points(bytes(r["payload"]))
        per.setdefault(r["source"], []).append((ts, vals))
    return {
        k: (np.concatenate([t for t, _ in v]), np.concatenate([x for _, x in v]))
        for k, v in per.items()
    }


def _observed_1m(pdf, sources) -> dict:
    """{source: (minute start seconds, avg)} straight from the raw rows."""
    out = {}
    sub = pdf[pdf["source"].isin(sources)]
    for src, g in sub.groupby("source"):
        m = _minutes(g["event_ts"].to_numpy())
        order = np.argsort(m, kind="stable")
        m, v = m[order], g["n_tok"].to_numpy().astype(np.int64)[order]
        starts = np.concatenate(([0], np.flatnonzero(np.diff(m)) + 1))
        sums = np.add.reduceat(v, starts)
        counts = np.diff(np.append(starts, len(m)))
        out[src] = (m[starts] * 60, sums.astype(np.float64) / counts)
    return out


def _check_observed(decoded: dict, observed: dict, tag: str) -> list[str]:
    """Every observed bucket must decode to exactly sum/count, and no
    decoded point may be NaN (the ridge fallback fills every gap of
    these series, so ``gaps_unfilled`` is 0)."""
    bad = []
    for src, (ts_o, avg_o) in observed.items():
        if src not in decoded:
            bad.append(f"{tag}: no chunks for {src}")
            continue
        ts, vals = decoded[src]
        if np.isnan(vals).any():
            bad.append(f"{tag}: {src} has {int(np.isnan(vals).sum())} NaN points")
        pos = np.searchsorted(ts, ts_o)
        if (pos >= len(ts)).any() or not np.array_equal(ts[np.minimum(pos, len(ts) - 1)], ts_o):
            bad.append(f"{tag}: {src} lost observed buckets")
            continue
        if not np.array_equal(vals[pos].view(np.int64), avg_o.view(np.int64)):
            bad.append(f"{tag}: {src} observed values differ from sum/count")
    return bad


def _tree_files(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime ns)} under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Workload:
    name = ""
    shuffle_partitions = 16
    #: run one untimed iteration before the timed loop
    warmup = True
    #: a ``tracing.Tracer`` during the traced iteration, else None
    tracer = None

    def timed(self, name: str, fn):
        """Run ``fn`` as one timed operation (a span when traced)."""
        span = self.tracer.span if self.tracer is not None else _no_span
        with span(name):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    def layer_of(self, op: str) -> str:
        """The layer an operation's own (Python-side) time belongs to."""
        return "plans"

    def stage_layer(self, op: str, python: bool, before_python: bool) -> str:
        """The layer of one Spark stage run inside operation ``op``."""
        if python:
            return "kernel_stage"
        return "rollup" if before_python else "plans"

    def prepare(self, dirs: Dirs, seed: int) -> None:
        """Build this seed's inputs (once) and derive what the checks
        expect, without Spark: untimed, before the session starts, so
        that set-up never finds a JVM they warmed."""

    def open(self, spark) -> None:
        """Open the inputs: part of set-up."""

    def iterate(self, spark, i: int) -> Iteration:
        raise NotImplementedError

    def finish(self, spark, its: list[Iteration]) -> None:
        """Checks that need work no iteration should be timed after
        (untimed, after the loop); mismatches go to ``its``' failures."""

    def summary(self, its: list[Iteration]) -> dict[str, tuple[float, str]]:
        """Workload-specific figures over the timed iterations:
        ``{name: (value, unit)}``."""
        return {}


class SequenceInput(Workload):
    """A workload over one seeded sequence table of ``shape``
    (docs, sources, minutes)."""

    shape = (0, 0, 0)

    def _input(self, dirs, seed) -> str:
        return inputs.sequences(os.path.join(dirs.inputs, f"{self.name}_seed{seed}"), *self.shape, seed)


class Ingest(SequenceInput):
    """``run_pipeline(fused=True, collect_metrics=False)`` exactly as
    bench.py calls it, on the seeded sequence table."""

    def __init__(self, name: str, n_docs: int, n_sources: int, span_minutes: int):
        self.name = name
        self.shape = (n_docs, n_sources, span_minutes)

    def prepare(self, dirs, seed):
        import pyarrow.parquet as pq

        self.path = self._input(dirs, seed)
        self.pdf = pq.read_table(self.path, columns=["source", "event_ts", "n_tok"]).to_pandas()
        self.expected_points, grid_1m = _grid_points(self.pdf)
        observed_1m = len(self.pdf[["source", "event_ts"]].assign(m=_minutes(self.pdf["event_ts"]))
                          .drop_duplicates(["source", "m"]))
        self.empty_share = 1.0 - observed_1m / grid_1m
        self.tokens = int(self.pdf["n_tok"].sum())
        rng = np.random.default_rng(seed)
        sources = sorted(self.pdf["source"].unique())
        self.sample = [str(s) for s in rng.choice(sources, size=min(3, len(sources)), replace=False)]
        self.observed = _observed_1m(self.pdf, self.sample)

    def open(self, spark):
        spark.read.parquet(self.path).count()

    def run(self, spark):
        from datafiller_spark.plans import run_pipeline

        return run_pipeline(
            spark,
            spark.read.parquet(self.path),
            KEYS,
            "event_ts",
            "n_tok",
            min_samples_train=MIN_SAMPLES_TRAIN,
            collect_metrics=False,
            fused=True,
        )

    def iterate(self, spark, i):
        from pyspark.sql import functions as F

        res, wall = self.timed("pipeline", lambda: self.run(spark))
        payload = sum(res.counters.get(f"tier_{t}_bytes", 0) for t in TIERS)
        it = Iteration(wall=wall, points=res.points, engine_s=wall, ops={"pipeline": [wall]},
                       counts={"payload_bytes": payload})
        if res.points != self.expected_points:
            it.failures.append(f"points {res.points} != grid size {self.expected_points}")
        rows = (
            res.encoded["1m"].where(F.col("source").isin(self.sample))
            .select("source", "chunk_start", "payload").collect()
        )
        it.failures += _check_observed(_decode_chunks(rows), self.observed, "1m chunks")
        return it

    def summary(self, its):
        return {
            "tokens_per_s": (statistics.median(self.tokens / it.wall for it in its), "1/s"),
            "bytes_per_point": (statistics.median(it.counts["payload_bytes"] / it.points for it in its), "B"),
            "empty_bucket_share": (self.empty_share, "ratio"),
        }


class Warehouse(SequenceInput):
    """Write path beside read path. Set-up builds the warehouse with
    ``run_pipeline(output_dir=…)`` and default arguments on the first
    part of the seeded table (timed alone as ``build_s``, and the staged
    path's warm-up). Each iteration starts from a copy of that build and
    times ``resume=True`` on the whole table, seeded ``scan_chunks`` range
    reads, then ``apply_chunk_retention``.

    The resumed chunks must byte-equal a single-shot build of the whole
    table; that reference is the fused in-memory build (equal to the
    staged one, which the engine's tests pin). It is built after the
    timed loop, so that it warms nothing the loop measures, and kept
    beside the input for the next run with the same seed.

    Layout: the default (staged) path writes ``chunks_tier=<tier>``,
    which is what ``scan_chunks`` and ``apply_chunk_retention`` read. The
    fused path writes ``chunks/tier=<tier>`` instead, which those two
    cannot read; the workload keeps the defaults and counts every read
    that fails, so a pipeline that changes the layout shows up as
    failures here rather than as silently missing reads."""

    shuffle_partitions = 4
    # set-up's first build is the warm-up; a whole extra iteration
    # would double the run
    warmup = False
    name = "warehouse"
    n_docs, n_sources, span = 16_000, 8, 2880
    shape = (n_docs, n_sources, span)
    cut_minute = 2160  # the first build sees minutes [0, cut)
    n_reads = 20
    keep_after_minute = 1800

    @staticmethod
    def _ts(minute: int) -> str:
        t = np.datetime64(inputs.SEQ_BASE_TS.replace(" ", "T")) + np.timedelta64(minute, "m")
        return str(t).replace("T", " ")

    def prepare(self, dirs, seed):
        self.dirs = dirs
        self.path = self._input(dirs, seed)
        rng = np.random.default_rng(seed)
        starts = rng.integers(0, self.span - 180, size=self.n_reads)
        lengths = rng.integers(30, 180, size=self.n_reads)
        self.windows = [(self._ts(int(s)), self._ts(int(s + n))) for s, n in zip(starts, lengths)]
        self.resumed: list[tuple[Iteration, dict]] = []

    def _reference(self, spark) -> dict:
        """{tier: sorted (source, chunk_start, payload)} of the fused
        single-shot build, cached beside the input."""
        path = self.path + ".reference.pickle"
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        reference = Ingest("reference", 0, 0, 0)
        reference.path = self.path
        res = reference.run(spark)
        ref = {
            tier: sorted(
                (r["source"], r["chunk_start"], bytes(r["payload"]))
                for r in res.encoded[tier].select("source", "chunk_start", "payload").collect()
            )
            for tier in TIERS
        }
        clear_cache(spark)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(ref, fh)
        os.replace(path + ".tmp", path)
        return ref

    def finish(self, spark, its):
        reference = self._reference(spark)
        for it, chunks in self.resumed:
            for tier, want in reference.items():
                if [(r["source"], r["chunk_start"], r["payload"]) for r in chunks[tier]] != want:
                    it.failures.append(f"resumed {tier} chunks differ from the single-shot build")
        self.resumed = []

    def open(self, spark):
        from pyspark.sql import functions as F

        spark.read.parquet(self.path).count()
        self.built = os.path.join(self.dirs.work, "warehouse_built")
        shutil.rmtree(self.built, ignore_errors=True)
        cut = F.lit(self._ts(self.cut_minute)).cast("timestamp_ntz")
        raw = spark.read.parquet(self.path).where(F.col("event_ts") < cut)
        _, self.build_s = self.timed("build", lambda: self.pipeline(spark, raw, self.built, False))
        clear_cache(spark)

    def layer_of(self, op):
        return "codec" if op == "range_read" else "warehouse"

    def stage_layer(self, op, python, before_python):
        if op == "range_read":
            return "codec"
        return "kernel_stage" if python else "warehouse"

    @staticmethod
    def pipeline(spark, raw, out, resume):
        from datafiller_spark.plans import run_pipeline

        return run_pipeline(
            spark, raw, KEYS, "event_ts", "n_tok", output_dir=out, min_samples_train=MIN_SAMPLES_TRAIN, resume=resume
        )

    @staticmethod
    def chunks(out: str) -> dict:
        """{tier: chunk rows in (source, chunk_start) order}, read with
        pyarrow rather than Spark."""
        import pyarrow.parquet as pq

        got = {}
        for tier in TIERS:
            t = pq.read_table(os.path.join(out, f"chunks_tier={tier}")).to_pylist()
            got[tier] = sorted(t, key=lambda r: (r["source"], r["chunk_start"]))
        return got

    @staticmethod
    def _expected_read(chunks_1m: list, start: str, end: str) -> list:
        lo = np.datetime64(start.replace(" ", "T"), "s").astype(np.int64)
        hi = np.datetime64(end.replace(" ", "T"), "s").astype(np.int64)
        out = []
        for src, (ts, vals) in _decode_chunks(chunks_1m).items():
            keep = (ts >= lo) & (ts < hi)
            out += [(src, int(t), float(v)) for t, v in zip(ts[keep], vals[keep])]
        return sorted(out)

    def iterate(self, spark, i):
        from datafiller_spark.plans import apply_chunk_retention, scan_chunks

        out = os.path.join(self.dirs.work, f"warehouse_{i}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.built, out)
        ops: dict[str, list[float]] = {}
        failures: list[str] = []
        before = _tree_files(out)
        raw = spark.read.parquet(self.path)
        res, dt = self.timed("resume", lambda: self.pipeline(spark, raw, out, True))
        ops["resume"] = [dt]
        points = sum(res.counters.get(f"tier_{t}_points", 0) for t in TIERS)
        clear_cache(spark)
        after = _tree_files(out)
        chunk_bytes = sum(s for p, (s, _) in after.items()
                          if os.sep + "chunks_tier=" in p and p.endswith(".parquet"))
        counts = {
            "chunk_bytes": chunk_bytes,
            "bytes_on_disk": sum(s for s, _ in after.values()),
            "bytes_written": sum(s for p, (s, m) in after.items() if before.get(p) != (s, m)),
            "files": len(after),
        }
        ops["range_read"] = []
        reads = []
        for start, end in self.windows:
            try:
                rows, dt = self.timed("range_read", lambda: scan_chunks(spark, out, "1m", KEYS, start=start, end=end).collect())
            except Exception as exc:  # a failed read is a counted failure
                failures.append(f"range read {start}..{end} raised {type(exc).__name__}: {exc}")
                continue
            ops["range_read"].append(dt)
            reads.append((start, end, rows))
        clear_cache(spark)
        # checks on the resumed warehouse, before retention rewrites it
        try:
            chunks = self.chunks(out)
        except OSError as exc:
            failures.append(f"warehouse chunks unreadable: {exc}")
            chunks = {t: [] for t in TIERS}
        counts["grid_points"] = sum(r["n_points"] for t in TIERS for r in chunks[t])
        for start, end, rows in reads:
            expect = self._expected_read(chunks["1m"], start, end)
            have = sorted((r["source"], int(r["bucket"].timestamp()), float(r["avg_value"])) for r in rows)
            if have != expect:
                failures.append(f"range read {start}..{end}: {len(have)} rows, decoding gives {len(expect)}")
        keep_after = self._ts(self.keep_after_minute)
        try:
            kept, dt = self.timed("retention", lambda: apply_chunk_retention(spark, out, "1m", KEYS, keep_after))
            ops["retention"] = [dt]
            expect_kept = sum(1 for r in chunks["1m"] if str(r["chunk_start"])[:10] >= keep_after[:10])
            if kept != expect_kept:
                failures.append(f"retention kept {kept} chunks, expected {expect_kept}")
        except Exception as exc:  # a failed retention is a counted failure
            failures.append(f"retention raised {type(exc).__name__}: {exc}")
        wall = sum(sum(v) for v in ops.values())
        it = Iteration(wall=wall, points=points, engine_s=ops["resume"][0], ops=ops,
                       counts=counts, attempted=2 + len(self.windows), failures=failures)
        self.resumed.append((it, chunks))
        return it

    def summary(self, its):
        reads = [dt for it in its for dt in it.ops["range_read"]]
        p = statistics.quantiles(reads, n=10, method="inclusive")

        def med(f):
            return statistics.median(f(it) for it in its)

        return {
            "build_s": (self.build_s, "s"),
            "resume_s": (med(lambda it: it.ops["resume"][0]), "s"),
            "retention_s": (med(lambda it: it.ops.get("retention", [0.0])[0]), "s"),
            "range_read_p50_ms": (statistics.median(reads) * 1000.0, "ms"),
            "range_read_p90_ms": (p[8] * 1000.0, "ms"),
            "range_reads": (len(reads), "count"),
            "bytes_per_point": (med(lambda it: it.counts["chunk_bytes"] / it.counts["grid_points"]), "B"),
            "bytes_on_disk_mb": (med(lambda it: it.counts["bytes_on_disk"]) / 2**20, "MB"),
            "bytes_written_mb": (med(lambda it: it.counts["bytes_written"]) / 2**20, "MB"),
            "files": (med(lambda it: it.counts["files"]), "count"),
        }


# query name → operator family (the battery layer's subtotals): one to
# three of bench.py's HEADLINE queries per family, plus gapfill_metrics
# and ngram_jaccard
BATTERY = {
    "model_gapfill_1h": "timeseries",
    "gapfill_metrics": "timeseries",
    "dedup_exact": "dedup",
    "ngram_jaccard": "dedup",
    "cosine_topk": "similarity",
    "quality": "text",
    "multimodal_decode": "multimodal",
    "asof_join": "asof",
    "sample_by_hash": "sample",
}


def _oracle_counts(sf_dir: str, names) -> dict[str, int]:
    """Row counts of the queries' DuckDB oracles (``oracle_sql()``) over
    the generated tables: a second engine derives what Spark must give."""
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        return {n: int(con.execute(f"SELECT count(*) FROM ({sql[n]})").fetchone()[0]) for n in names if n in sql}
    finally:
        con.close()


class QueryBattery(Workload):
    """A pass over ``__spark_entry__.queries()``: every query
    materialised with ``count()``, the cache cleared before each."""

    shuffle_partitions = 8

    def layer_of(self, op):
        return BATTERY[op]

    def stage_layer(self, op, python, before_python):
        return BATTERY[op]

    def prepare(self, dirs, seed):
        import pandas as pd

        self.sf_dir = inputs.battery_tables(os.path.join(dirs.inputs, f"battery_seed{seed}"), seed)
        ev = pd.read_parquet(os.path.join(self.sf_dir, "events.parquet"))
        hours = ev["ts"].dt.floor("h")
        grid = 0
        for _, h in hours.groupby(ev["event_type"]):
            grid += int((h.max() - h.min()) / pd.Timedelta(hours=1)) + 1
        self.expected = _oracle_counts(self.sf_dir, BATTERY)
        # the two kernel-side queries have no SQL oracle: one row per
        # hourly grid bucket, one row per series
        self.expected["model_gapfill_1h"] = grid
        self.expected["gapfill_metrics"] = int(ev["event_type"].nunique())
        missing = set(BATTERY) - set(self.expected)
        if missing:
            raise RuntimeError(f"no expected row count for {sorted(missing)}")

    def open(self, spark):
        from datafiller_spark.sources import load_table

        for t in ("events", "documents", "embeddings", "orders"):
            load_table(spark, self.sf_dir, t).count()

    def run_query(self, spark, name):
        import __spark_entry__

        return __spark_entry__.queries()[name](spark, self.sf_dir).count()

    def iterate(self, spark, i):
        ops: dict[str, list[float]] = {}
        failures = []
        rows = 0
        for name in BATTERY:
            clear_cache(spark)
            n, dt = self.timed(name, lambda: self.run_query(spark, name))
            ops[name] = [dt]
            rows += n
            if n != self.expected[name]:
                failures.append(f"{name}: {n} rows, the oracle gives {self.expected[name]}")
        wall = sum(v[0] for v in ops.values())
        return Iteration(wall=wall, points=rows, engine_s=wall, ops=ops, attempted=len(BATTERY), failures=failures)


WORKLOADS = {
    "ingest_sparse": lambda: Ingest("ingest_sparse", 125_000, 128, 5760),
    "warehouse": Warehouse,
    "query_battery": QueryBattery,
}


def served_from_cache(spark, group: str, first_tasks: int | None) -> tuple[int, bool]:
    """Tasks this iteration ran, and whether that is fewer than the
    first iteration ran — the mark of a repeat served from cache."""
    n = tasks_in_group(spark, group)
    return n, first_tasks is not None and n < first_tasks
