"""Corpus-curation operators: dup clusters, hash sampling, packing,
chunk retention."""

import collections
import datetime
import math
import os
import random

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
    """A path graph split over 7 tasks leaves each task's forest only
    path fragments, which the driver's union-find must join; the result
    must be exact and identical across runs/partitionings."""
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
    from datafiller_spark.plans import apply_chunk_retention, run_pipeline
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

    tier = spark.read.parquet(os.path.join(out, "tier=1m"))
    decoded = {
        (r.source, r.bucket): r.avg_value
        for r in decode_tier(chunks, ["source"], "bucket", "avg_value").collect()
    }
    observed = {(r.source, r.bucket): r.avg_value for r in tier.select("source", "bucket", "avg_value").collect()}
    assert observed and all(decoded[k] == v for k, v in observed.items())
    assert min(b for _, b in decoded) >= keep_after
    assert not any(math.isnan(v) for v in decoded.values())


def _reference_clusters(edges):
    """A plain union-find: {(id, least id of its component, component size)}."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    roots = {x: find(x) for x in parent}
    sizes = collections.Counter(roots.values())
    return {(x, r, sizes[r]) for x, r in roots.items()}


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_dup_clusters_equals_python_union_find(spark, id_type):
    """Many small components (self-pairs included) spread over several
    tasks, whose forests the driver joins: equal to a plain union-find,
    with string ids ordered as strings ("10" < "9"), also when each task
    reads its edges in 7-row Arrow batches."""
    rng = random.Random(17)
    edges = [(i, i - i % 12 + rng.randrange(12)) for i in rng.sample(range(3000), 600)]
    cases = [("a", "b"), ("b", "c"), ("d", "e"), ("x", "y"), ("y", "z"), ("x", "z")]
    if id_type == "string":
        edges = [(str(a), str(b)) for a, b in edges] + cases
    else:
        edges += [(10_000 + ord(a), 10_000 + ord(b)) for a, b in cases]
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}").repartition(5)
    want = _reference_clusters(edges)
    assert len({r for _, r, _ in want}) > 100
    got = set(map(tuple, dup_clusters(pairs).collect()))
    assert got == want
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        assert set(map(tuple, dup_clusters(pairs).collect())) == want
    finally:
        spark.conf.set(key, prior)
    if id_type == "string":
        assert {("c", "a", 3), ("z", "x", 3), ("e", "d", 2)} <= got


@pytest.mark.parametrize("id_type, ids", [("bigint", (1, 2, 5)), ("string", ("a", "b", "e"))])
def test_dup_clusters_drops_pairs_with_a_null_end(spark, id_type, ids):
    """A NULL names no document: its pair is dropped, so (y, NULL) adds
    nothing to y's cluster and (NULL, z) leaves z out."""
    x, y, z = ids
    pairs = spark.createDataFrame([(x, y), (y, None), (None, z)], f"id_a {id_type}, id_b {id_type}")
    assert sorted(map(tuple, dup_clusters(pairs).collect())) == [(x, x, 2), (y, x, 2)]
    assert dup_clusters(pairs.where("id_a IS NULL")).collect() == []


def test_dup_clusters_forest_budget_raises(spark, monkeypatch):
    """Past the driver's budget of forest edges the call raises and
    names the budget; at the budget it runs (a path of 10 edges leaves
    10 forest edges however it is split)."""
    from datafiller_spark.exceptions import EngineError
    from datafiller_spark.operators import dedup

    pairs = spark.createDataFrame([(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint")
    monkeypatch.setattr(dedup, "_FOREST_BUDGET", 9)
    with pytest.raises(EngineError, match="_FOREST_BUDGET"):
        dup_clusters(pairs.repartition(3))
    monkeypatch.setattr(dedup, "_FOREST_BUDGET", 10)
    assert dup_clusters(pairs.repartition(3)).count() == 11


def test_dup_clusters_ids_near_2_62_round_trip(spark):
    """Bigint ids past float64's 53-bit mantissa come back exactly."""
    big = 1 << 62
    pairs = spark.createDataFrame(
        [(big + 1, big + 3), (big + 3, big - 1), (big + 7, big + 8)], "id_a bigint, id_b bigint"
    )
    assert sorted(map(tuple, dup_clusters(pairs).collect())) == [
        (big - 1, big - 1, 3), (big + 1, big - 1, 3), (big + 3, big - 1, 3),
        (big + 7, big + 7, 2), (big + 8, big + 7, 2),
    ]
