#!/usr/bin/env python
"""Cluster entry point for the rollup pipeline.

Usage (multi-executor cluster):

    zip -r datafiller_spark.zip datafiller_spark
    spark-submit \
      --py-files datafiller_spark.zip \
      --num-executors $N --executor-cores 4 --executor-memory 8g \
      scripts/submit_pipeline.py \
      --input  <iceberg-table-or-parquet-path> \
      --output <warehouse-path> \
      [--resume] [--salt-buckets 16]

The same pipeline backs the sandbox scaling evidence (bench.py runs it
in-process at N vs 4N parallelism — thread mode local[N] or real
executor JVMs via local-cluster[N,1,4096]). Resumes anchor to a
snapshot: every commit writes immutable per-snapshot high-water marks
(plans/checkpoint.py); pass --pin-snapshot to re-anchor an older one.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of the sequence table")
    ap.add_argument("--output", required=True, help="output warehouse dir")
    ap.add_argument("--keys", default="source")
    ap.add_argument("--ts-col", default="event_ts")
    ap.add_argument("--value-col", default="n_tok")
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--min-samples-train", type=int, default=20)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--pin-snapshot",
        default=None,
        help="resume anchored to this snapshot id (default: current head)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("datafiller_spark_pipeline").getOrCreate()
    sys.path.insert(0, ".")
    from datafiller_spark.plans import run_pipeline

    raw = spark.read.parquet(args.input)
    t0 = time.time()
    res = run_pipeline(
        spark,
        raw,
        args.keys.split(","),
        args.ts_col,
        args.value_col,
        output_dir=args.output,
        min_samples_train=args.min_samples_train,
        salt_buckets=args.salt_buckets,
        salt_col="doc_id",
        resume=args.resume,
        pin_snapshot=args.pin_snapshot,
    )
    print(
        json.dumps(
            {
                "wall_sec": round(time.time() - t0, 2),
                "points": res.points,
                "snapshot_id": res.snapshot_id,
                "counters": res.counters,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
