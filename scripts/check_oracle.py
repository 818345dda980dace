#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` on DuckDB, compares row count, column names, and
values (order-insensitive: both sides sorted by all columns, NaN==NaN),
and prints a per-query verdict. Usage:

    python scripts/check_oracle.py            # all queries
    python scripts/check_oracle.py rollup_1m  # one or more by name
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype("string")
            except (TypeError, ValueError):
                df[c] = df[c].map(repr).astype("string")
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype("boolean")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            af = av.astype("float64").to_numpy()
            bf = bv.astype("float64").to_numpy()
            same = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not same.all():
                i = int(np.flatnonzero(~same)[0])
                return False, f"col {c} row {i}: {af[i]!r} vs {bf[i]!r}"
        else:
            mism = ~((av == bv) | (av.isna() & bv.isna()))
            if mism.any():
                i = int(np.flatnonzero(mism.to_numpy())[0])
                return False, f"col {c} row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r}"
    return True, "ok"


def _round6_half_up(v: float) -> float:
    """Mirror Spark's round(col, 6): shortest-decimal repr of the double
    (Double.toString semantics), then HALF_UP. Python's built-in round is
    banker's — an exact-half cell (e.g. …8125, live at sf0.1) flips."""
    from decimal import ROUND_HALF_UP, Decimal

    f = float(v)
    if math.isnan(f) or math.isinf(f):
        return f
    return float(Decimal(repr(f)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


_DUCKDB_TIER_1H = """
SELECT event_type, date_trunc('hour', ts) AS bucket,
       round(sum(value), 4) / count(value) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def _kernel_model_gapfill(con, lags, regressor_factory=None):
    """In-process mirror of the driver's model_gapfill queries: DuckDB
    independently materializes the 1h tier (same safe-avg SQL as the
    value oracles), the engine KERNEL runs on it per series, and the
    Spark query must match value-for-value — upgrading these
    non-SQL-expressible queries from rows-only to value-checked
    (template: tests/test_spline.py's cross-engine check)."""
    from datafiller_spark.exceptions import EngineError
    from datafiller_spark.kernels import TimeSeriesImputer

    tier = con.execute(_DUCKDB_TIER_1H).fetchdf()
    rows = []
    for key, part in tier.groupby("event_type"):
        frame = (
            part[["bucket", "avg_value"]]
            .sort_values("bucket")
            .set_index("bucket")
            .astype("float64")
        )
        imputer = TimeSeriesImputer(
            lags=list(lags),
            regressor=regressor_factory() if regressor_factory is not None else None,
            min_samples_train=20,
        )
        try:
            filled = imputer(frame)
        except EngineError:
            filled = frame
        rows.extend(
            (key, ts, _round6_half_up(v)) for ts, v in zip(filled.index, filled["avg_value"])
        )
    return pd.DataFrame(rows, columns=["event_type", "bucket", "avg_value"])


def _kernel_gapfill_metrics(con):
    from datafiller_spark.exceptions import EngineError
    from datafiller_spark.kernels import TimeSeriesImputer

    tier = con.execute(_DUCKDB_TIER_1H).fetchdf()
    rows = []
    for key, part in tier.groupby("event_type"):
        frame = (
            part[["bucket", "avg_value"]]
            .sort_values("bucket")
            .set_index("bucket")
            .astype("float64")
        )
        imputer = TimeSeriesImputer(
            lags=[1, 2, 3, -1, -2, -3], min_samples_train=20, interpolate_gaps_less_than=4
        )
        try:
            filled = imputer(frame)
            counts = imputer.fill_counts_
            n_grid = len(filled)
            unfilled = int(filled.isna().sum().sum())
        except EngineError:
            counts = {"interp": 0, "model": 0, "fallback": 0}
            n_grid = len(frame)
            unfilled = int(frame.isna().sum().sum())
        rows.append(
            (key, len(part), n_grid, counts["interp"], counts["model"],
             counts["fallback"], unfilled)
        )
    return pd.DataFrame(
        rows,
        columns=["event_type", "n_observed", "n_grid", "gaps_by_interp",
                 "gaps_by_model", "gaps_by_fallback", "gaps_unfilled"],
    )


_DUCKDB_GRID_1H = """
WITH tier AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(sum(value), 4) / count(value) AS avg_value
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT event_type, min(bucket) lo, max(bucket) hi FROM tier GROUP BY 1)
)
SELECT g.event_type, g.bucket, t.avg_value
FROM grid g LEFT JOIN tier t USING (event_type, bucket)
ORDER BY 1, 2
"""


def _kernel_gap_spline(con, spark):
    """In-process spline fill on the DuckDB-materialized 1h grid — the
    same cross-engine check tests/test_spline.py pins, run inside the
    gate so the driver query is value-checked every round."""
    from datafiller_spark.kernels.spline import spline_interpolate

    grid = con.execute(_DUCKDB_GRID_1H).fetchdf()
    rows = []
    for key, part in grid.groupby("event_type"):
        part = part.sort_values("bucket")
        filled = spline_interpolate(part["avg_value"].astype("float64"), max_gap=6)
        rows.extend(
            (key, ts, None if (v is None or math.isnan(v)) else _round6_half_up(v))
            for ts, v in zip(part["bucket"], filled)
        )
    return pd.DataFrame(rows, columns=["event_type", "bucket", "filled"])


def _load_embeddings_np():
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    # Spark widens the stored float32 per-element via cast(array<double>);
    # float32 → float64 widening is exact, so this mirrors it bit-for-bit
    x = np.vstack(emb["embedding"].to_numpy()[order]).astype(np.float64)
    return ids, x


def _pairwise_cosine6(q: np.ndarray, v: np.ndarray) -> float:
    # identical accumulation to _pair_cosine_udf's cumsum (the SQL fold
    # order) and the same division order, then HALF_UP like F.round
    dot = np.cumsum(q * v)[-1]
    na = math.sqrt(np.cumsum(q * q)[-1])
    nb = math.sqrt(np.cumsum(v * v)[-1])
    return _round6_half_up(dot / (na * nb))


def _topk_rows(ids, x, cand: dict[int, set], k: int = 5):
    """(query_id, neighbor_id, cosine, rank) from per-query candidate
    index sets — descending rounded cosine, ties by neighbor id, exactly
    the operators' window spec."""
    rows = []
    pos = {int(i): p for p, i in enumerate(ids)}
    for qid in sorted(cand):
        scored = [
            (-_pairwise_cosine6(x[pos[qid]], x[ci]), int(ids[ci])) for ci in cand[qid]
        ]
        scored.sort()
        for rank, (negc, nid) in enumerate(scored[:k], start=1):
            rows.append((qid, nid, -negc, rank))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])


def _kernel_ann_lsh_topk(con, spark):
    """NumPy mirror of q_ann_lsh_topk's exact plan (P=12 T=32 r=2, k=5):
    same hyperplane seeds and sign rule, same multi-probe masks, same
    cumsum cosine and rank spec. Bucket signs share the operator's GEMM
    up to the k=64 accumulation, which OpenBLAS evaluates identically at
    this width; a flip would need a projection within one ULP of zero."""
    from datafiller_spark.operators.similarity import _hyperplanes, _probe_masks

    ids, x = _load_embeddings_np()
    n_planes, n_tables, radius, k = 12, 32, 2, 5
    masks = np.array(_probe_masks(n_planes, radius), dtype=np.int64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    q_positions = np.nonzero(ids < 10)[0]
    cand: dict[int, set] = {int(ids[p]): set() for p in q_positions}
    for t in range(n_tables):
        planes = _hyperplanes(x.shape[1], n_planes, seed=17 + 31 * t)
        buckets = ((x @ planes.T >= 0) * weights).sum(axis=1)
        by_bucket: dict[int, list] = {}
        for p, b in enumerate(buckets):
            by_bucket.setdefault(int(b), []).append(p)
        for p in q_positions:
            qid = int(ids[p])
            for pb in buckets[p] ^ masks:
                for m in by_bucket.get(int(pb), ()):
                    if m != p:
                        cand[qid].add(m)
    return _topk_rows(ids, x, cand, k)


def _kernel_ivf_topk(con, spark):
    """Mirror of q_ivf_topk (C=32 nprobe=24, k=5): centroids from the
    engine's own deterministic trainer (shared, like the model gates
    share the kernel), assignment/probe via the exact argsort spec of
    _nearest_clusters_udf, then cumsum cosine + rank."""
    from pyspark.sql import functions as F

    from datafiller_spark.operators.similarity import train_ivf_centroids
    from datafiller_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    cents = train_ivf_centroids(emb, "embedding", 32, 64)
    ids, x = _load_embeddings_np()
    norms = np.maximum(np.sqrt((x * x).sum(axis=1, keepdims=True)), 1e-300)
    sims = (x @ cents.T) / norms
    kc = sims.shape[1]
    order_rev = np.argsort(-sims[:, ::-1], axis=1, kind="stable")
    ranked = kc - 1 - order_rev  # desc sim, ties -> larger id first
    assign = ranked[:, 0]
    probe = ranked[:, :24]
    lists: dict[int, list] = {}
    for p, c in enumerate(assign):
        lists.setdefault(int(c), []).append(p)
    q_positions = np.nonzero(ids < 10)[0]
    cand: dict[int, set] = {}
    for p in q_positions:
        qid = int(ids[p])
        s: set = set()
        for c in probe[p]:
            s.update(lists.get(int(c), ()))
        s.discard(p)
        cand[qid] = s
    return _topk_rows(ids, x, cand, 5)


def _kernel_gates():
    def elm():
        from datafiller_spark.kernels import ExtremeLearningMachine

        return ExtremeLearningMachine(n_features=50, random_state=0)

    return {
        "model_gapfill_1h": lambda con, spark: _kernel_model_gapfill(con, (1, 2, 3, -1, -2, -3)),
        "model_gapfill_elm_1h": lambda con, spark: _kernel_model_gapfill(
            con, (1, 2, -1, -2), regressor_factory=elm
        ),
        "gapfill_metrics": lambda con, spark: _kernel_gapfill_metrics(con),
        "gap_spline_1h": _kernel_gap_spline,
        "ann_lsh_topk": _kernel_ann_lsh_topk,
        "ivf_topk": _kernel_ivf_topk,
    }


def main() -> int:
    import __spark_entry__ as entrymod
    from datafiller_spark.session import get_spark

    only = set(sys.argv[1:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    kernel_gates = _kernel_gates()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    if os.environ.get("SPARK_GRAFT_ORACLE_PLAIN"):
        # driver simulation: a PLAIN session (none of get_spark's
        # configs) pinned to a non-UTC timezone — catches session-TZ and
        # default-config dependencies the round driver's harness would
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle_check_plain")
            .master(f"local[{len(os.sched_getaffinity(0))}]")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="oracle_check")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:<26} spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            gate = kernel_gates.get(name)
            if gate is not None:
                try:
                    expected = gate(con, spark)
                except Exception as exc:  # noqa: BLE001
                    print(f"FAIL  {name:<26} kernel-gate error: {exc}")
                    failures += 1
                    continue
                ok, msg = _values_equal(_canon(spark_df), _canon(expected))
                verdict = "kchk" if ok else "FAIL"
                print(
                    f"{verdict}  {name:<26} {len(spark_df):>8} rows  "
                    f"{time.time()-t0:5.1f}s  "
                    f"{'(kernel value gate)' if ok else msg}"
                )
                failures += 0 if ok else 1
                continue
            print(f"rows  {name:<26} {len(spark_df):>8} rows (no oracle) {time.time()-t0:5.1f}s")
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:<26} duckdb error: {exc}")
            failures += 1
            continue
        ok, msg = _values_equal(_canon(spark_df), _canon(duck_df))
        verdict = "ok  " if ok else "FAIL"
        print(f"{verdict}  {name:<26} {len(spark_df):>8} rows  {time.time()-t0:5.1f}s  {'' if ok else msg}")
        failures += 0 if ok else 1

    spark.stop()
    print(f"\n{failures} failing" if failures else "\nall queries match the oracle")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
