"""The one-shuffle tier-chain kernel must equal the staged composition
``encode_tier(model_gapfill(cascade(…)))`` byte for byte."""

from pyspark.sql import functions as F

from datafiller_spark.operators import cascade, encode_tier, model_gapfill, rollup
from datafiller_spark.operators.impute import cascade_gapfill_encode_all
from datafiller_spark.sources import synth_sequences


def test_all_tier_kernel_equals_staged_composition(spark):
    """Integral values make every bucket sum order-free, so the in-kernel
    cascade (time-order sums) equals Spark's cascade (partition-order
    partial aggregates) exactly, and everything downstream — avg
    division, grid, fill, chunking, encode — must agree to the byte."""
    seqs = synth_sequences(spark, 15000, mean_tokens=16, span_minutes=720, n_sources=16)
    tiers = {"1m": rollup(seqs, ["source"], "event_ts", "n_tok", "1m").cache()}
    tiers["1h"] = cascade(tiers["1m"], ["source"], "1h")
    tiers["1d"] = cascade(tiers["1h"], ["source"], "1d")

    def rows(df):
        return sorted((r.source, r.tier, r.chunk_start, r.n_points, bytes(r.payload)) for r in df.collect())

    kernel = cascade_gapfill_encode_all(tiers["1m"], ["source"], min_samples_train=20).cache()
    staged = []
    for tier, tdf in tiers.items():
        filled = model_gapfill(tdf, ["source"], "bucket", ["avg_value"], min_samples_train=20)
        staged += rows(encode_tier(filled, ["source"], "bucket", "avg_value", tier))
    got = rows(kernel)
    assert got == sorted(staged)
    assert {t for _, t, *_ in got} == {"1m", "1h", "1d"}

    # n_observed counts the observed buckets of each chunk
    observed = {
        r.tier: r.n for r in kernel.groupBy("tier").agg(F.sum("n_observed").alias("n")).collect()
    }
    assert observed == {tier: tdf.count() for tier, tdf in tiers.items()}
