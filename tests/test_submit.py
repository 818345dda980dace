"""The north rule's launch mode, actually exercised: the pipeline runs
via ``spark-submit --py-files datafiller_spark.zip`` against REAL
executor JVMs (``local-cluster``), from a working directory where the
package is NOT importable — so both the driver and every executor's
Python worker must resolve ``datafiller_spark`` from the shipped zip,
exactly as a multi-executor cluster would."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_zip(tmp_path) -> str:
    zpath = str(tmp_path / "datafiller_spark.zip")
    pkg = os.path.join(REPO, "datafiller_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def test_spark_submit_py_files_on_local_cluster(spark, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    from datafiller_spark.plans import run_pipeline
    from datafiller_spark.sources import synth_sequences

    seqs = synth_sequences(spark, 4000, mean_tokens=8, span_minutes=240, n_sources=8)
    input_path = str(tmp_path / "input")
    seqs.write.parquet(input_path)

    # ground truth from the in-process engine on the same input
    expected = run_pipeline(
        spark,
        spark.read.parquet(input_path),
        ["source"],
        "event_ts",
        "n_tok",
        min_samples_train=20,
    ).points

    out_dir = str(tmp_path / "warehouse")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only source of the package
    proc = subprocess.run(
        [
            spark_submit,
            "--master",
            "local-cluster[2,1,1536]",
            "--py-files",
            _make_zip(tmp_path),
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.session.timeZone=UTC",
            "--conf",
            "spark.sql.shuffle.partitions=8",
            "--conf",
            f"spark.pyspark.python={sys.executable}",
            os.path.join(REPO, "scripts", "submit_pipeline.py"),
            "--input",
            input_path,
            "--output",
            out_dir,
            "--salt-buckets",
            "4",
        ],
        cwd=str(tmp_path),  # datafiller_spark NOT importable from here
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert result["points"] == expected > 0
    assert result["snapshot_id"]
    # the warehouse the submitted job wrote is a real, readable one
    t1m = spark.read.parquet(os.path.join(out_dir, "tier=1m"))
    assert t1m.count() > 0
    chunks = spark.read.parquet(os.path.join(out_dir, "chunks_tier=1d"))
    assert chunks.where("tier = '1d'").count() > 0
    # ...and the chunk readers work on it: a range read, then retention
    from datafiller_spark.plans import apply_chunk_retention, scan_chunks

    span = t1m.agg(F.min("bucket"), F.max("bucket")).first()
    read = scan_chunks(spark, out_dir, "1m", ["source"], span[0], span[1])
    assert read.count() > 0
    assert read.where(F.col("avg_value").isNull() | F.isnan("avg_value")).count() == 0
    n_chunks = spark.read.parquet(os.path.join(out_dir, "chunks_tier=1m")).count()
    assert 0 < apply_chunk_retention(spark, out_dir, "1m", ["source"], span[1]) <= n_chunks
