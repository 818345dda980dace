"""End-to-end pipeline: salting equivalence, checkpoint/resume, retention."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from datafiller_spark.operators import rollup
from datafiller_spark.plans import run_pipeline
from datafiller_spark.plans.pipeline import apply_retention, salted_rollup
from datafiller_spark.sources import synth_sequences


@pytest.fixture(scope="module")
def seqs(spark):
    return synth_sequences(spark, 3000, mean_tokens=32, span_minutes=360).cache()


def test_salted_rollup_equals_direct(spark, seqs):
    direct = rollup(seqs, ["source"], "event_ts", "n_tok", "1m")
    salted = salted_rollup(seqs, ["source"], "event_ts", "n_tok", "1m", salt_buckets=8, salt_col="doc_id")
    d = direct.orderBy("source", "bucket").collect()
    s = salted.orderBy("source", "bucket").collect()
    assert len(d) == len(s)
    for a, b in zip(d, s):
        assert (a.source, a.bucket, a.n_points, a.min_value, a.max_value) == (
            b.source,
            b.bucket,
            b.n_points,
            b.min_value,
            b.max_value,
        )
        assert a.sum_value == b.sum_value  # integer-valued sums compose exactly


def test_pipeline_counters_and_tiers(spark, seqs, tmp_path):
    res = run_pipeline(
        spark,
        seqs,
        ["source"],
        "event_ts",
        "n_tok",
        output_dir=str(tmp_path / "out"),
        min_samples_train=10,
        salt_buckets=8,
        salt_col="doc_id",
    )
    tiers = ("1m", "1h", "1d")
    assert res.counters["tier_1m_rows"] > res.counters["tier_1h_rows"] > res.counters["tier_1d_rows"]
    # points counts the grid points the kernel emitted, every tier
    assert res.points == sum(res.counters[f"tier_{t}_points"] for t in tiers)
    metrics = {r.tier: r for r in res.metrics.collect()}
    for tier in tiers:
        assert res.counters[f"tier_{tier}_bytes"] > 0
        assert metrics[tier].rows_in == res.tiers[tier].count() == res.counters[f"tier_{tier}_rows"]
        assert metrics[tier].grid_rows == res.filled[tier].count() == res.counters[f"tier_{tier}_points"]
        assert metrics[tier].gaps_filled == metrics[tier].grid_rows - metrics[tier].rows_in
        assert metrics[tier].bytes_out == res.counters[f"tier_{tier}_bytes"]
        assert res.filled[tier].where(F.col("avg_value").isNull()).count() == 0
    # artifacts written
    out = tmp_path / "out"
    for tier in tiers:
        assert (out / f"tier={tier}").exists()
        assert (out / f"chunks_tier={tier}").exists()
    assert (out / "metrics").exists()
    assert (out / "lineage").exists()
    assert (out / "_checkpoint_high_water").exists()


def test_resume_is_incremental_and_consistent(spark, tmp_path):
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).cache()
    cutoff = datetime.datetime(2024, 1, 1, 2, 0)
    first = full.where(F.col("event_ts") < F.lit(cutoff))
    second = full  # the resume run sees everything, filters via checkpoint

    out = str(tmp_path / "ckpt")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)

    hw_rows = spark.read.parquet(os.path.join(out, "_checkpoint_high_water")).collect()
    hw_max = max(r.max_bucket for r in hw_rows)
    hw_min = min(r.max_bucket for r in hw_rows)
    assert hw_max < cutoff

    res2 = run_pipeline(spark, second, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    incr_1m = res2.delta.select("source", "bucket", "n_points").collect()
    # the raw scan re-aggregated only buckets at/past the checkpoint (the
    # high-water bucket itself is open and reprocessed wholesale); the
    # tier frames cover the affected keys' full merged history
    assert min(r.bucket for r in incr_1m) >= hw_min

    # the PERSISTED tier after the resume run == a single-shot run on
    # everything: new rows replaced the boundary bucket, old rows survived
    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(
        map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect())
    )
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def test_resume_boundary_bucket_and_quiet_keys(spark, tmp_path):
    """Sub-minute-aligned late rows in the open boundary bucket must not
    double-count, and keys with no new data must keep both their
    persisted tier rows and their high-water marks."""
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def row(src, sec, v):
        return (src, base + datetime.timedelta(seconds=sec), v)

    first_rows = [row("a", 10, 1), row("a", 40, 2), row("b", 30, 7)]
    late_rows = [row("a", 50, 3), row("a", 70, 4)]  # 00:00:50 is INSIDE the open bucket
    schema = "source string, event_ts timestamp, n_tok int"
    first = spark.createDataFrame(first_rows, schema)
    full = spark.createDataFrame(first_rows + late_rows, schema)

    out = str(tmp_path / "bnd")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = {
        (r.source, r.bucket): (r.n_points, r.sum_value)
        for r in spark.read.parquet(os.path.join(out, "tier=1m")).collect()
    }
    m0 = base
    m1 = base + datetime.timedelta(minutes=1)
    assert persisted == {
        ("a", m0): (3, 6),  # re-aggregated boundary bucket, not 2+3 rows
        ("a", m1): (1, 4),
        ("b", m0): (1, 7),  # quiet key retained
    }
    hw = {
        r.source: r.max_bucket
        for r in spark.read.parquet(os.path.join(out, "_checkpoint_high_water")).collect()
    }
    assert hw == {"a": m1, "b": m0}  # quiet key's mark survived the resume


def test_retention(spark, seqs, tmp_path):
    out = str(tmp_path / "ret")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    path = os.path.join(out, "tier=1m")
    before = spark.read.parquet(path).count()
    keep_after = datetime.datetime(2024, 1, 1, 3, 0)
    kept = apply_retention(spark, out, "1m", keep_after)
    assert 0 < kept < before
    assert spark.read.parquet(path).agg(F.min("bucket")).first()[0] >= keep_after


def test_resume_heals_after_crash_between_write_and_checkpoint(spark, tmp_path):
    """Crash window: tiers written but the high-water checkpoint not yet
    committed. The re-run reprocesses the same increment (the filter
    still sees the OLD marks) and merge-write replaces the same rows —
    the final state must equal the single-shot run regardless."""
    import shutil

    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=180).cache()
    cutoff = datetime.datetime(2024, 1, 1, 1, 30)
    first = full.where(F.col("event_ts") < F.lit(cutoff))
    out = str(tmp_path / "crash")

    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    committed = ["_checkpoint_high_water", "_hw", "_snapshots"]
    for name in committed:
        shutil.copytree(os.path.join(out, name), str(tmp_path / f"{name}_backup"))

    # resume run 2 completes fully...
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)
    # ...but we simulate the crash by rolling the WHOLE commit state
    # (marks + snapshot chain) back, as if the job died before committing
    for name in committed:
        shutil.rmtree(os.path.join(out, name))
        shutil.copytree(str(tmp_path / f"{name}_backup"), os.path.join(out, name))

    # the healing re-run sees stale marks and reprocesses the increment
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def test_resume_with_gapfill_encode_matches_single_shot(spark, tmp_path):
    """The round-2 resume bug: cascading/encoding the 1m DELTA alone
    produced partial 1h/1d boundary rows and partial open chunks, which
    merge-write then swapped in over the complete priors. The resume now
    re-derives every derived product from the MERGED tier for affected
    keys, so all three persisted tiers AND the chunk payloads must be
    byte-identical to a single-shot run over the full data — and the
    single-shot chunks on disk equal the kernel's in-memory output."""
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).cache()
    cutoff = datetime.datetime(2024, 1, 1, 2, 0)
    first = full.where(F.col("event_ts") < F.lit(cutoff))

    out = str(tmp_path / "resumed")
    ref = str(tmp_path / "singleshot")
    kwargs = dict(min_samples_train=10)
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out, **kwargs)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out,
                 resume=True, **kwargs)
    single = run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=ref, **kwargs)

    for tier in ("1m", "1h", "1d"):
        cols = ["source", "bucket", "n_points", "sum_value"]
        a = sorted(map(tuple, spark.read.parquet(os.path.join(out, f"tier={tier}"))
                       .select(*cols).collect()))
        b = sorted(map(tuple, spark.read.parquet(os.path.join(ref, f"tier={tier}"))
                       .select(*cols).collect()))
        assert a == b, f"tier {tier} diverged after resume"

        ccols = ["source", "chunk_start", "n_points", "payload"]
        ca = sorted(
            (r.source, r.chunk_start, r.n_points, bytes(r.payload))
            for r in spark.read.parquet(os.path.join(out, f"chunks_tier={tier}"))
            .select(*ccols).collect()
        )
        cb = sorted(
            (r.source, r.chunk_start, r.n_points, bytes(r.payload))
            for r in spark.read.parquet(os.path.join(ref, f"chunks_tier={tier}"))
            .select(*ccols).collect()
        )
        assert ca == cb, f"chunks for tier {tier} diverged after resume"
        mem = sorted(
            (r.source, r.chunk_start, r.n_points, bytes(r.payload))
            for r in single.encoded[tier].select(*ccols).collect()
        )
        assert mem == cb and len(cb) > 0


def test_merge_write_heals_crash_mid_swap(spark, tmp_path):
    """A crash between the two renames of the directory swap must be
    recoverable: __old present without the live dir → restored."""
    import shutil

    from datafiller_spark.plans.pipeline import _heal_dir, _merge_write

    path = str(tmp_path / "swap" / "tier=1m")
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    _merge_write(spark, df, path, merge_keys=["k"])
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    # simulate the worst crash instant: live dir renamed aside, new dir
    # not yet renamed in (and its staging write half-finished)
    os.rename(path, path + "__old")
    os.makedirs(path + "__merge_tmp")
    _heal_dir(path)
    assert os.path.exists(path) and not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__merge_tmp")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    # ...and the other window: swap completed, leftovers remain
    shutil.copytree(path, path + "__old")
    _merge_write(spark, spark.createDataFrame([("b", 2)], "k string, v int"),
                 path, merge_keys=["k"], merge=True)
    rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert rows == [("a", 1), ("b", 2)]
    assert not os.path.exists(path + "__old")


def test_snapshot_pinned_resume_ignores_racing_head_write(spark, tmp_path):
    """North star: 'snapshot-pinned reads for resume'. A writer racing
    the resume may move the mutable head marks; a resume pinned to a
    snapshot must re-read THAT snapshot's immutable marks, so the raced
    run's output equals the un-raced one."""
    from datafiller_spark.plans import latest_snapshot_id, read_snapshot

    full = synth_sequences(spark, 1500, mean_tokens=16, span_minutes=180).cache()
    cutoff = datetime.datetime(2024, 1, 1, 1, 30)
    first = full.where(F.col("event_ts") < F.lit(cutoff))

    out = str(tmp_path / "pin")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    s1 = latest_snapshot_id(spark, out)

    # racing writer: clobber the mutable head with far-future marks —
    # an unpinned reader consulting the head would now skip everything
    head = os.path.join(out, "_checkpoint_high_water")
    far = spark.read.parquet(head).withColumn(
        "max_bucket", F.lit(datetime.datetime(2030, 1, 1))
    )
    far.coalesce(1).write.mode("overwrite").parquet(head + "__race")
    import shutil
    shutil.rmtree(head)
    os.rename(head + "__race", head)

    res = run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out,
                       resume=True, pin_snapshot=s1)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m")
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b

    # the commit records which snapshot the resume anchored to
    snap = read_snapshot(spark, out, res.snapshot_id)
    assert snap.anchor_id == s1 and snap.resume


def test_snapshot_log_chains_commits(spark, tmp_path):
    """Every committed run appends a snapshot whose parent is the prior
    head — the Iceberg-style audit chain a resume anchors to."""
    import json

    from datafiller_spark.plans.pipeline import read_snapshots

    full = synth_sequences(spark, 800, mean_tokens=16, span_minutes=120).cache()
    cutoff = datetime.datetime(2024, 1, 1, 1, 0)
    out = str(tmp_path / "snap")
    first = run_pipeline(spark, full.where(F.col("event_ts") < F.lit(cutoff)),
                         ["source"], "event_ts", "n_tok", output_dir=out)
    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    log = read_snapshots(spark, out)
    assert dict(log.dtypes) == {
        "snapshot_id": "string", "parent_id": "string", "anchor_id": "string",
        "resume": "boolean", "committed_at": "double", "counters": "string",
    }
    snaps = log.collect()
    assert len(snaps) == 2
    head, root = snaps
    # the first commit: NULL parent, a real boolean, the run's counters
    assert root.parent_id is None and root.resume is False
    assert root.snapshot_id == first.snapshot_id
    assert json.loads(root.counters) == first.counters
    assert head.parent_id == root.snapshot_id and head.resume
    assert json.loads(head.counters)["tier_1m_rows"] >= 0


def test_retention_then_resume_does_not_resurrect_dropped_data(spark, tmp_path):
    """Retention and the incremental contract compose: dropping expired
    buckets does not touch the high-water marks, so a later resume (fed
    the FULL raw table again) reprocesses only the open bucket onward —
    expired history stays dropped, new rows merge in."""
    full = synth_sequences(spark, 2000, mean_tokens=16, span_minutes=240).cache()
    cutoff = datetime.datetime(2024, 1, 1, 3, 0)
    first = full.where(F.col("event_ts") < F.lit(cutoff))

    out = str(tmp_path / "retres")
    run_pipeline(spark, first, ["source"], "event_ts", "n_tok", output_dir=out)
    keep_after = datetime.datetime(2024, 1, 1, 1, 0)
    apply_retention(spark, out, "1m", keep_after)

    run_pipeline(spark, full, ["source"], "event_ts", "n_tok", output_dir=out, resume=True)

    persisted = spark.read.parquet(os.path.join(out, "tier=1m"))
    # expired buckets stay dropped
    assert persisted.agg(F.min("bucket")).first()[0] >= keep_after
    # retained + new rows equal the single-shot rollup restricted to the kept range
    single = rollup(full, ["source"], "event_ts", "n_tok", "1m").where(
        F.col("bucket") >= F.lit(keep_after)
    )
    a = sorted(map(tuple, persisted.select("source", "bucket", "n_points", "sum_value").collect()))
    b = sorted(map(tuple, single.select("source", "bucket", "n_points", "sum_value").collect()))
    assert a == b


def test_layout_version_guard(spark, seqs, tmp_path):
    """Fresh warehouses get a layout marker; resuming into a pre-marker
    or wrong-version warehouse refuses (ADVICE r3: merging observed
    deltas into v1 gap-filled tier rows would silently corrupt)."""
    import pytest as _pytest

    from datafiller_spark.exceptions import EngineValueError
    from datafiller_spark.plans.pipeline import LAYOUT_VERSION

    out = str(tmp_path / "lv")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    marker = os.path.join(out, "_layout_version")
    assert os.path.exists(marker)
    assert int(open(marker).read()) == LAYOUT_VERSION

    # unversioned prior warehouse → resume refuses
    os.remove(marker)
    with _pytest.raises(EngineValueError, match="layout"):
        run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out,
                     resume=True)
    # ... and so does a NON-resume run: stamping v2 onto it would bless
    # leftover v1 artifacts (old chunks, snapshot chain) as v2
    with _pytest.raises(EngineValueError, match="layout"):
        run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)

    # stale version → any persisted run refuses
    with open(marker, "w") as fh:
        fh.write("1")
    with _pytest.raises(EngineValueError, match="layout v1"):
        run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out,
                     resume=True)


def test_retired_fused_layout_refused(spark, seqs, tmp_path):
    """A warehouse holding the retired fused layout (chunks/tier=<t>) is
    refused: resuming into it would start a chunks_tier=<t> directory
    with only the delta's keys, and range reads would miss the rest."""
    import pytest as _pytest

    from datafiller_spark.exceptions import EngineValueError

    out = str(tmp_path / "old_fused")
    run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out)
    os.makedirs(os.path.join(out, "chunks", "tier=1m"))
    for resume in (True, False):
        with _pytest.raises(EngineValueError, match="Rebuild the warehouse from raw"):
            run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", output_dir=out, resume=resume)
