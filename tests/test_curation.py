"""Corpus-curation operators: dup clusters, hash sampling, packing,
chunk retention."""

import datetime
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from datafiller_spark.operators import dup_clusters, pack_sequences, sample_by_hash


def test_dup_clusters_transitive_chain(spark):
    """A~B and B~C (no A~C pair) must land in ONE cluster with the min
    id canonical — the case plain pair-deletion under-deletes."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    out = {r.doc_id: (r.canonical_id, r.cluster_size) for r in dup_clusters(pairs).collect()}
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 2), 11: (10, 2),
        20: (20, 4), 21: (20, 4), 22: (20, 4), 23: (20, 4),
    }


def test_dup_clusters_long_path_and_determinism(spark):
    """A path graph is the worst case (pointer jumping keeps it to
    O(log n) rounds); the result must be exact and identical across
    runs/partitionings."""
    n = 40
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    a = sorted(map(tuple, dup_clusters(pairs).collect()))
    b = sorted(map(tuple, dup_clusters(pairs.repartition(7)).collect()))
    assert a == b
    assert all(canon == 0 and size == n + 1 for _, canon, size in a)


def test_sample_by_hash_deterministic_and_sized(spark, sf_dir):
    from datafiller_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    s1 = {r.doc_id for r in sample_by_hash(docs, "doc_id", 0.2).select("doc_id").collect()}
    s2 = {
        r.doc_id
        for r in sample_by_hash(docs.repartition(13), "doc_id", 0.2).select("doc_id").collect()
    }
    assert s1 == s2  # partitioning- and rerun-independent
    assert 0.05 * n < len(s1) < 0.45 * n  # md5 is uniform-ish even at small n
    # monotone: a bigger fraction is a superset (same hash, higher cut)
    s3 = {r.doc_id for r in sample_by_hash(docs, "doc_id", 0.5).select("doc_id").collect()}
    assert s1 <= s3
    other_salt = {
        r.doc_id for r in sample_by_hash(docs, "doc_id", 0.2, salt="x").select("doc_id").collect()
    }
    assert other_salt != s1  # independent draw
    assert sample_by_hash(docs, "doc_id", 0.0).count() == 0
    assert sample_by_hash(docs, "doc_id", 1.0).count() == n
    with pytest.raises(ValueError):
        sample_by_hash(docs, "doc_id", 1.5)


def test_pack_sequences_matches_pandas_reference(spark):
    rng = np.random.default_rng(4)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        rows.append(
            (
                f"s{i % 3}",
                f"d{i:04d}",
                base + datetime.timedelta(minutes=int(rng.integers(0, 500))),
                int(rng.integers(1, 900)),
            )
        )
    df = spark.createDataFrame(rows, "source string, doc_id string, event_ts timestamp, n_tok int")
    out = pack_sequences(df.repartition(5), ["source"], ["event_ts", "doc_id"], "n_tok", 1000)
    got = {(r.source, r.doc_id): (r.bin_id, r.bin_offset) for r in out.collect()}

    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["source", "doc_id", "event_ts", "n_tok"])
    for src, part in pdf.groupby("source"):
        part = part.sort_values(["event_ts", "doc_id"])
        start = part["n_tok"].cumsum().shift(fill_value=0)
        for doc, s in zip(part["doc_id"], start):
            assert got[(src, doc)] == (s // 1000, s % 1000), (src, doc)

    # bins are dense from 0 and offsets stay inside the budget
    per_bin = out.groupBy("source", "bin_id").agg(F.min("bin_offset").alias("lo"))
    assert out.where(F.col("bin_offset") >= 1000).count() == 0
    assert out.agg(F.min("bin_id")).first()[0] == 0
    assert per_bin.count() > 3
    with pytest.raises(ValueError):
        pack_sequences(df, ["source"], ["event_ts"], "n_tok", 0)


def test_scan_chunks_time_range_read(spark, tmp_path):
    """The chunk read path: a narrow window decodes only intersecting
    chunk periods and returns the gap-filled grid in range — observed
    buckets bit-exact against the tier rows, no other point NaN."""
    from datafiller_spark.plans import run_pipeline, scan_chunks
    from datafiller_spark.sources import synth_sequences

    seqs = synth_sequences(spark, 3000, mean_tokens=16, span_minutes=3 * 1440).cache()
    out = str(tmp_path / "scan")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)

    start = datetime.datetime(2024, 1, 2, 6, 0)
    end = datetime.datetime(2024, 1, 2, 18, 0)
    got = {(r.source, r.bucket): r.avg_value for r in scan_chunks(spark, out, "1m", ["source"], start, end).collect()}
    tier = spark.read.parquet(os.path.join(out, "tier=1m")).where(
        (F.col("bucket") >= F.lit(start)) & (F.col("bucket") < F.lit(end))
    )
    observed = {(r.source, r.bucket): r.avg_value for r in tier.select("source", "bucket", "avg_value").collect()}
    assert observed and all(got[k] == v for k, v in observed.items())
    assert all(start <= b < end for _, b in got)
    assert not any(math.isnan(v) for v in got.values())

    # pruning: only day-2 chunks (one period per key) are decoded
    chunks = spark.read.parquet(os.path.join(out, "chunks_tier=1m"))
    touched = chunks.where(
        (F.col("chunk_start") >= F.lit(datetime.datetime(2024, 1, 2)))
        & (F.col("chunk_start") < F.lit(end))
    ).count()
    assert touched < chunks.count()


def test_apply_chunk_retention_boundary_reencode(spark, tmp_path):
    """Whole expired chunks drop by metadata; the boundary chunk is
    decoded, filtered, re-encoded — decoded survivors must start at the
    cutoff, equal the tier rows at/after it bit-exactly at observed
    buckets, and hold no NaN anywhere else."""
    from datafiller_spark.operators import decode_tier
    from datafiller_spark.plans import apply_chunk_retention, apply_retention, run_pipeline
    from datafiller_spark.sources import synth_sequences

    seqs = synth_sequences(spark, 3000, mean_tokens=16, span_minutes=3 * 1440).cache()
    out = str(tmp_path / "ret")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)

    # mid-day cutoff: day-2 chunks of the 1m tier are boundary material
    keep_after = datetime.datetime(2024, 1, 2, 7, 0)
    before = spark.read.parquet(os.path.join(out, "chunks_tier=1m"))
    n_before = before.count()
    kept_chunks = apply_chunk_retention(spark, out, "1m", ["source"], keep_after)
    assert 0 < kept_chunks < n_before

    chunks = spark.read.parquet(os.path.join(out, "chunks_tier=1m"))
    assert chunks.agg(F.min("chunk_start")).first()[0] == datetime.datetime(2024, 1, 2)

    apply_retention(spark, out, "1m", keep_after)
    tier = spark.read.parquet(os.path.join(out, "tier=1m"))
    decoded = {
        (r.source, r.bucket): r.avg_value
        for r in decode_tier(chunks, ["source"], "bucket", "avg_value").collect()
    }
    observed = {(r.source, r.bucket): r.avg_value for r in tier.select("source", "bucket", "avg_value").collect()}
    assert observed and all(decoded[k] == v for k, v in observed.items())
    assert min(b for _, b in decoded) >= keep_after
    assert not any(math.isnan(v) for v in decoded.values())


def test_dup_clusters_driver_and_distributed_paths_equal(spark):
    """The hybrid's two paths (driver union-find vs distributed
    pointer-jumping) must produce identical clusters."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("x", "y"), ("y", "z"), ("x", "z")],
        "id_a string, id_b string",
    )
    fast = {
        (r.doc_id, r.canonical_id, r.cluster_size)
        for r in dup_clusters(pairs).collect()
    }
    slow = {
        (r.doc_id, r.canonical_id, r.cluster_size)
        for r in dup_clusters(pairs, driver_threshold=0).collect()
    }
    assert fast == slow
    assert ("c", "a", 3) in fast and ("z", "x", 3) in fast and ("e", "d", 2) in fast
