"""Physical-plan assertions: the scale claims, checked structurally.

These pin the properties that matter at 100 TB — shuffles that must not
exist, pushdown/pruning that must — so a refactor that silently
reintroduces an exchange or a single-task funnel fails CI, not the
cluster. Plans come from the executed-plan string (AQE initial plan; the
structural operators asserted here are not runtime-dependent).
"""

import pytest
from pyspark.sql import functions as F

from datafiller_spark.operators import minhash_signatures, rollup
from datafiller_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_minhash_signatures_are_shuffle_free(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=32)
    plan = _plan(sig)
    # no ALGORITHMIC (hash/range) exchange: signatures are per-row array
    # math. One round-robin respread of an under-split input is allowed
    # — that is spread_input's input-layout fix (r7), not a shuffle the
    # algorithm needs, and it disappears on well-split production tables.
    assert "Exchange hashpartitioning" not in plan and "Exchange rangepartitioning" not in plan, (
        "MinHash signatures must not shuffle (per-row array math)"
    )
    assert plan.count("Exchange") <= 1, "at most the spread_input respread"
    assert "FlatMapGroupsInPandas" not in plan and "BatchEvalPython" not in plan, (
        "MinHash signatures must stay JVM-side"
    )


def test_feature_scores_has_no_single_task_funnel(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.q_feature_scores(spark, sf_dir)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" not in plan, "scores must come from aggregates, not one pandas task"
    # the only single-partition exchange allowed is the scalar
    # countDistinct(bucket) final aggregate (one row, then broadcast) —
    # no DATA stage may funnel the matrix through one partition
    assert plan.count("Exchange SinglePartition") <= 1


def test_rollup_scan_prunes_columns_and_pushes_filters(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    t = rollup(events.where(F.col("event_type") == "click"), ["event_type"], "ts", "value", "1m")
    plan = _plan(t)
    # column pruning: the scan reads only the 3 referenced columns
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "event_type" in read_schema and "ts" in read_schema and "value" in read_schema
    for unused in ("event_id", "user_id"):
        assert unused not in read_schema, f"scan must not read {unused}"
    # predicate pushdown reaches the parquet reader
    assert "PushedFilters: [" in plan and "event_type" in plan.split("PushedFilters:")[-1].splitlines()[0]


def test_rollup_is_partial_then_final_aggregate(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    t = rollup(events, ["event_type"], "ts", "value", "1m")
    plan = _plan(t)
    # map-side partial aggregation before the exchange: exactly one
    # shuffle, carrying partial rows rather than raw rows
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial" in plan.lower()


def test_broadcast_join_for_small_dims(spark, sf_dir):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_join_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
        "customer/nation dims must broadcast, not shuffle-join"
    )


def test_cosine_topk_broadcasts_queries_not_corpus(spark, sf_dir):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_cosine_topk(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan, "dot products must stay JVM-side"


def test_ann_projections_are_one_pandas_stage_no_literal_blowup(spark):
    """At production ANN shapes (256 centroids × 512 dims / 32×512
    hyperplanes) the projection must be ONE vectorized Arrow stage per
    scan against a broadcast matrix — not 256 inlined literal-array
    expressions, which multiply plan size and Catalyst analysis time by
    n_clusters × dim."""
    import numpy as np

    from datafiller_spark.operators.similarity import (
        _bucket_udf,
        _hyperplanes,
        _nearest_clusters_udf,
    )

    dim, n_clusters = 512, 256
    rng = np.random.RandomState(3)
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    nearest = _nearest_clusters_udf(df, rng.normal(size=(n_clusters, dim)), 4)
    ivf_side = df.select("vec_id", nearest(F.col("embedding")).alias("probes"))
    plan = _plan(ivf_side)
    assert plan.count("ArrowEvalPython") == 1
    assert len(plan) < 20_000, "plan blew up — projections are being inlined as literals"
    assert ivf_side.count() == 8  # and it actually runs at this width

    tables = [_hyperplanes(dim, 8, seed=17 + 31 * t) for t in range(4)]
    buckets = _bucket_udf(df, tables)
    lsh_side = df.select("vec_id", buckets(F.col("embedding")).alias("buckets"))
    plan = _plan(lsh_side)
    assert plan.count("ArrowEvalPython") == 1
    assert len(plan) < 20_000
    assert lsh_side.count() == 8


def test_asof_join_is_one_shuffle_no_range_explosion(spark, sf_dir):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_asof_join(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan, "asof = union + carry-forward window, not a range join"


def test_ngram_jaccard_is_lazy_with_no_broadcast(spark, sf_dir):
    """Building the n-gram Jaccard plan starts no Spark job (no eager
    gate, no collect of the shingles) and the plan is one shuffle-by-gram
    pandas stage: no broadcast index and a single MapInPandas."""
    from datafiller_spark.operators import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("ngram_jaccard_plan", "building the n-gram Jaccard plan")
    try:
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2, max_posting_len=10_000)
        started = sc.statusTracker().getJobIdsForGroup("ngram_jaccard_plan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(started) == [], f"ngram_jaccard_pairs ran jobs at call time: {started}"
    plan = _plan(pairs)
    assert "BroadcastExchange" not in plan
    assert plan.count("MapInPandas") == 1
