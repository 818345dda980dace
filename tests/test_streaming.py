"""Streaming 1m rollup == batch rollup on the same data."""

import pytest
from pyspark.sql import functions as F

from datafiller_spark.operators import rollup
from datafiller_spark.sources import load_table
from datafiller_spark.streaming import streaming_rollup


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        streaming_rollup(stream, ["event_type"], "ts", "value", watermark="0 seconds")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t1m_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.sql(
        "SELECT event_type, bucket, n_points, sum_value FROM t1m_test"
    ).collect()
    batch = (
        rollup(events, ["event_type"], "ts", "value", "1m")
        .select("event_type", "bucket", "n_points", "sum_value")
        .collect()
    )
    s = sorted((r.event_type, r.bucket, r.n_points, round(r.sum_value, 6)) for r in streamed)
    b = sorted((r.event_type, r.bucket, r.n_points, round(r.sum_value, 6)) for r in batch)
    assert s == b


def test_streaming_tier_pipeline_end_to_end(spark, tmp_path):
    """Two incremental stream runs → persisted tier + re-encoded chunks
    must equal a single-shot batch rollup of everything (the continuous
    aggregate contract, decoded from the Gorilla payloads)."""
    import datetime

    from datafiller_spark.operators import decode_tier, rollup
    from datafiller_spark.streaming import start_tier_pipeline_stream

    base = datetime.datetime(2024, 1, 1)
    schema = "source string, event_ts timestamp, n_tok int"

    def rows(lo, hi):
        out = []
        for m in range(lo, hi):
            for s in ("a", "b"):
                out.append((s, base + datetime.timedelta(minutes=m, seconds=30), m + 1))
        return out

    src = tmp_path / "src"
    out = tmp_path / "warehouse"
    ckpt = tmp_path / "ckpt"
    spark.createDataFrame(rows(0, 40), schema).write.mode("append").parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = start_tier_pipeline_stream(
            stream, ["source"], "event_ts", "n_tok",
            output_dir=str(out), checkpoint_dir=str(ckpt), watermark="5 minutes",
        )
        q.awaitTermination(120)

    run_once()
    # second increment arrives later; the stream checkpoint resumes
    spark.createDataFrame(rows(40, 70), schema).write.mode("append").parquet(str(src))
    run_once()

    batch = rollup(
        spark.createDataFrame(rows(0, 70), schema), ["source"], "event_ts", "n_tok", "1m"
    )
    persisted = spark.read.parquet(str(out / "tier=1m"))
    # the watermark holds back the trailing open windows; everything the
    # stream finalized must match the batch rollup exactly
    a = {(r.source, r.bucket): (r.n_points, r.sum_value) for r in persisted.collect()}
    b = {(r.source, r.bucket): (r.n_points, r.sum_value) for r in batch.collect()}
    assert len(a) >= 0.8 * len(b)
    for key, vals in a.items():
        assert b[key] == vals

    # decoded chunks reproduce the persisted tier's avg values bit-exactly
    chunks = spark.read.parquet(str(out / "chunks_tier=1m"))
    decoded = {
        (r.source, r.bucket): r.value
        for r in decode_tier(chunks, ["source"], "bucket", "value").collect()
    }
    for (src_key, bucket), (n, s) in a.items():
        assert decoded[(src_key, bucket)] == s / n


def test_late_row_beyond_watermark_healed_by_batch_resume(spark, tmp_path):
    """The division of labor the module docstring promises: the stream
    handles in-watermark updates; a row arriving LATER than the
    watermark is the batch checkpoint path's job — a resume run over the
    full table must merge it into the streamed tier, ending byte-equal
    to a single-shot batch rollup of everything."""
    import datetime
    import os

    from datafiller_spark.operators import rollup
    from datafiller_spark.plans import run_pipeline
    from datafiller_spark.streaming import start_tier_pipeline_stream

    base = datetime.datetime(2024, 1, 1)
    schema = "source string, event_ts timestamp, n_tok int"
    on_time = [("a", base + datetime.timedelta(minutes=m, seconds=30), m + 1) for m in range(60)]
    late = [("a", base + datetime.timedelta(minutes=2, seconds=45), 100)]  # way past watermark

    src = tmp_path / "late_src"
    out = str(tmp_path / "late_out")
    spark.createDataFrame(on_time, schema).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).parquet(str(src))
    q = start_tier_pipeline_stream(
        stream, ["source"], "event_ts", "n_tok",
        output_dir=out, checkpoint_dir=str(tmp_path / "late_ckpt"),
        watermark="0 seconds",
    )
    q.awaitTermination(120)

    # the late row arrives after the stream finalized its window: heal
    # through the batch resume path over the full table
    full = spark.createDataFrame(on_time + late, schema)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def _snapshot_chain(spark, out):
    """The snapshot log oldest first, checked to chain parent → child."""
    from datafiller_spark.plans import read_snapshots

    log = read_snapshots(spark, out).collect()[::-1]
    for parent, child in zip(log, log[1:]):
        assert child.parent_id == parent.snapshot_id
    return log


@pytest.mark.parametrize("order", ["stream_then_resume", "batch_then_stream"])
def test_streamed_warehouse_equals_single_shot_pipeline(spark, tmp_path, monkeypatch, order):
    """A micro-batch commits through the batch pipeline's warehouse
    commit, so a streamed warehouse finished by a batch resume — and a
    batch warehouse the stream then replays into — both equal a
    single-shot ``run_pipeline`` over the full table in every tier row
    set and every chunk payload, bytes exact. Values are integers, so
    sums do not depend on aggregation order. Each non-empty micro-batch
    appends one snapshot chained to the previous one and re-records the
    marks of the snapshot it follows, unchanged."""
    import datetime
    import os

    import numpy as np
    from _warehouse import assert_same_warehouse

    from datafiller_spark.plans import read_high_water, run_pipeline
    from datafiller_spark.streaming import start_tier_pipeline_stream, stream as stream_mod

    base = datetime.datetime(2024, 1, 1)
    schema = "source string, event_ts timestamp, n_tok int"
    rng = np.random.default_rng(5)
    rows = [
        (s, base + datetime.timedelta(minutes=m, seconds=int(sec)), int(v))
        for s in ("a", "b", "c")
        for m, sec, v in zip(range(1500), rng.integers(0, 60, 1500), rng.integers(1, 50, 1500))
        if rng.random() < 0.7  # holes for the gap-fill model to fill
    ]
    cut = base + datetime.timedelta(minutes=900)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    out, ref = str(tmp_path / "out"), str(tmp_path / "ref")
    full = spark.createDataFrame(rows, schema)

    commits = []

    def counted(spark_, batch, *args, **kwargs):
        assert not batch.isEmpty()
        commits.append(batch.count())
        return commit(spark_, batch, *args, **kwargs)

    commit = stream_mod._commit_delta
    monkeypatch.setattr(stream_mod, "_commit_delta", counted)

    def stream_once(part):
        spark.createDataFrame(part, schema).write.mode("append").parquet(src)
        q = start_tier_pipeline_stream(
            spark.readStream.schema(schema).parquet(src), ["source"], "event_ts", "n_tok",
            output_dir=out, checkpoint_dir=ckpt, watermark="5 minutes",
        )
        q.awaitTermination(300)

    def marks(snapshot_id):
        hw = read_high_water(spark, out, snapshot_id=snapshot_id)
        return sorted(map(tuple, hw.collect()))

    if order == "batch_then_stream":
        run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out)
    batch_snaps = _snapshot_chain(spark, out) if order == "batch_then_stream" else []
    stream_once([r for r in rows if r[1] < cut])
    stream_once([r for r in rows if r[1] >= cut])
    log = _snapshot_chain(spark, out)
    assert len(commits) >= 2 and len(log) == len(batch_snaps) + len(commits)
    followed = batch_snaps[-1].snapshot_id if batch_snaps else None
    for snap in log[len(batch_snaps):]:
        assert snap.anchor_id == followed and snap.resume
        assert os.path.exists(os.path.join(out, "_hw", f"snapshot={snap.snapshot_id}"))
        assert marks(snap.snapshot_id) == (marks(followed) if followed else [])
        followed = snap.snapshot_id
    if order == "stream_then_resume":
        run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=ref)
    assert_same_warehouse(spark, out, ref, ["source"])
