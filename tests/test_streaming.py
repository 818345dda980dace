"""Streaming 1m rollup == batch rollup on the same data."""

import pytest
from pyspark.sql import functions as F

from datafiller_spark.operators import rollup
from datafiller_spark.sources import load_table
from datafiller_spark.streaming import start_rollup_stream


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = start_rollup_stream(
        stream,
        ["event_type"],
        "ts",
        "value",
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="t1m_test",
        watermark="0 seconds",
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


def test_late_microbatch_reencodes_chunk_payload_byte_equal(spark, tmp_path):
    """A late (in-watermark) micro-batch landing inside an ALREADY
    ENCODED Gorilla chunk period must leave chunk payloads byte-equal to
    a batch encode_tier rerun over the merged tier — the re-encode claim
    in streaming/stream.py, proven at the payload level rather than on
    tier rows."""
    import datetime

    from datafiller_spark.operators import decode_tier, encode_tier
    from datafiller_spark.streaming import start_tier_pipeline_stream

    base = datetime.datetime(2024, 1, 1)
    schema = "source string, event_ts timestamp, n_tok int"

    def rows(lo, hi):
        return [
            (s, base + datetime.timedelta(minutes=m, seconds=30), m + 1)
            for m in range(lo, hi)
            for s in ("a", "b")
        ]

    src = tmp_path / "re_src"
    out = tmp_path / "re_out"
    ckpt = tmp_path / "re_ckpt"
    spark.createDataFrame(rows(0, 30), schema).write.mode("append").parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = start_tier_pipeline_stream(
            stream, ["source"], "event_ts", "n_tok",
            output_dir=str(out), checkpoint_dir=str(ckpt), watermark="5 minutes",
        )
        q.awaitTermination(120)

    run_once()
    first_chunks = {
        (r.source, r.chunk_start): bytes(r.payload)
        for r in spark.read.parquet(str(out / "chunks_tier=1m")).collect()
    }
    assert first_chunks  # the day-chunk exists and is encoded

    # the second micro-batch lands in the SAME day chunk (minutes 30-55
    # of 2024-01-01): the touched chunk must be re-encoded from the
    # merged tier, not appended to or left stale
    spark.createDataFrame(rows(30, 56), schema).write.mode("append").parquet(str(src))
    run_once()

    tier = spark.read.parquet(str(out / "tier=1m"))
    streamed = {
        (r.source, r.chunk_start): bytes(r.payload)
        for r in spark.read.parquet(str(out / "chunks_tier=1m")).collect()
    }
    batch = {
        (r.source, r.chunk_start): bytes(r.payload)
        for r in encode_tier(tier, ["source"], "bucket", "avg_value", "1m").collect()
    }
    assert streamed == batch
    # payloads actually changed vs the first encode (the chunk grew)
    assert any(streamed[k] != v for k, v in first_chunks.items())
    # and decode back to the tier's avg values bit-exactly
    decoded = {
        (r.source, r.bucket): r.value
        for r in decode_tier(
            spark.read.parquet(str(out / "chunks_tier=1m")), ["source"], "bucket", "value"
        ).collect()
    }
    for r in tier.collect():
        assert decoded[(r.source, r.bucket)] == r.sum_value / r.n_points
