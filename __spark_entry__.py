"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` gives the ANSI
SQL DuckDB runs on the same parquet tables. Column names and rounding
are aligned on both sides (the driver hashes values after sorting
columns by name).

Float policy: aggregates of doubles are rounded (2–6 decimals depending
on magnitude) on BOTH sides, because summation order differs between
engines; integer aggregates are exact. Oracle sums over integers are
cast to BIGINT (DuckDB widens to HUGEINT otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafiller_spark.operators import (
    asof_join,
    cascade,
    cosine_topk,
    decode_tier,
    encode_tier,
    exact_duplicates,
    fill_small_gaps,
    forward_fill,
    backward_fill,
    lang_id,
    linear_fill,
    lsh_topk,
    minhash_lsh_pairs,
    model_gapfill,
    ngram_jaccard_pairs,
    quality_score,
    regular_grid,
    rollup,
    simhash_duplicates,
)
from datafiller_spark.operators.multimodal import (
    extract_features,
    sample_frames,
    synthesize_assets,
)
from datafiller_spark.sources import load_table, tokenized_sequences

# ---------------------------------------------------------------------------
# helpers

def _metrics():
    # avg is derived from the ROUNDED sum: both engines then divide
    # bit-identical doubles, so no rounding-boundary flakiness survives.
    return [
        F.col("n_points"),
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.round(F.round("sum_value", 4) / F.col("n_points"), 6).alias("avg_value"),
    ]

_ORACLE_METRICS = """
  count(value)                 AS n_points,
  round(sum(value), 4)         AS sum_value,
  round(min(value), 6)         AS min_value,
  round(max(value), 6)         AS max_value,
  round(round(sum(value), 4) / count(value), 6) AS avg_value
"""


def _safe_avg_col():
    """avg_value derived from the ROUNDED sum — the scale-factor-proof
    float policy (BASELINE.md "rounding-boundary specimen"): round(sum,4)
    collapses the engines' summation-order ULP difference, so every
    downstream expression (gap fills, lags, codec, scores, model kernels)
    starts from bit-identical doubles on both engines and later 6-decimal
    rounds cannot flip at a boundary. The raw ``avg_value`` the rollup
    operator emits stays available for engine use; this is the
    comparison-boundary policy."""
    return (F.round("sum_value", 4) / F.col("n_points")).alias("avg_value")

_ORACLE_SAFE_AVG = "round(sum(value), 4) / count(value) AS avg_value"


def _events_tier(spark, sf_dir, tier):
    return rollup(load_table(spark, sf_dir, "events"), ["event_type"], "ts", "value", tier)


def _grid_with_avg(spark, sf_dir, tier):
    t = _events_tier(spark, sf_dir, tier)
    return regular_grid(
        t.select("event_type", "bucket", _safe_avg_col()), ["event_type"], "bucket", tier
    )


_ORACLE_GRID_1H = f"""
WITH tier AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {_ORACLE_SAFE_AVG}
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT event_type, min(bucket) lo, max(bucket) hi FROM tier GROUP BY 1)
)
SELECT g.event_type, g.bucket, t.avg_value
FROM grid g LEFT JOIN tier t USING (event_type, bucket)
"""


# ---------------------------------------------------------------------------
# queries

def q_rollup_1m(spark, sf_dir):
    return _events_tier(spark, sf_dir, "1m").select("event_type", "bucket", *_metrics())


def q_rollup_1h_cascade(spark, sf_dir):
    t1m = _events_tier(spark, sf_dir, "1m")
    return cascade(t1m, ["event_type"], "1h").select("event_type", "bucket", *_metrics())


def q_rollup_1d_cascade(spark, sf_dir):
    t1h = cascade(_events_tier(spark, sf_dir, "1m"), ["event_type"], "1h")
    return cascade(t1h, ["event_type"], "1d").select("event_type", "bucket", *_metrics())


def q_grid_1h(spark, sf_dir):
    t = _events_tier(spark, sf_dir, "1h")
    grid = regular_grid(t.select("event_type", "bucket", "n_points"), ["event_type"], "bucket", "1h")
    return grid.select(
        "event_type", "bucket", F.coalesce("n_points", F.lit(0)).alias("n_points")
    )


def q_gap_ffill_1h(spark, sf_dir):
    g = _grid_with_avg(spark, sf_dir, "1h")
    f = forward_fill(g, ["event_type"], "bucket", "avg_value", "filled")
    return f.select("event_type", "bucket", F.round("filled", 6).alias("filled"))


def q_gap_bfill_1h(spark, sf_dir):
    g = _grid_with_avg(spark, sf_dir, "1h")
    f = backward_fill(g, ["event_type"], "bucket", "avg_value", "filled")
    return f.select("event_type", "bucket", F.round("filled", 6).alias("filled"))


def q_gap_linear_1h(spark, sf_dir):
    g = _grid_with_avg(spark, sf_dir, "1h")
    f = linear_fill(g, ["event_type"], "bucket", "avg_value", "filled")
    return f.select("event_type", "bucket", F.round("filled", 6).alias("filled"))


def q_gap_small_1h(spark, sf_dir):
    g = _grid_with_avg(spark, sf_dir, "1h")
    f = fill_small_gaps(g, ["event_type"], "bucket", "avg_value", 3, "filled")
    return f.select("event_type", "bucket", F.round("filled", 6).alias("filled"))


def q_gap_spline_1h(spark, sf_dir):
    """Natural cubic-spline fill of interior gaps (north-star gap-fill
    menu; engine extra — no linear-SQL oracle exists for the tridiagonal
    solve; value-checked by check_oracle's in-process kernel gate on the
    DuckDB-materialized grid, kernel properties by tests/test_spline.py)."""
    from datafiller_spark.operators import spline_fill

    g = _grid_with_avg(spark, sf_dir, "1h")
    f = spline_fill(g, ["event_type"], "bucket", "avg_value", out_col="filled", max_gap=6)
    return f.select("event_type", "bucket", F.round("filled", 6).alias("filled"))


def q_freq_infer(spark, sf_dir):
    """Per series: base step (min positive delta) + regular-grid flag —
    the reference's frequency-inference rule (timeseries/imputer.py:187-213)."""
    t = _events_tier(spark, sf_dir, "1m").select("event_type", "bucket")
    w = Window.partitionBy("event_type").orderBy("bucket")
    deltas = t.withColumn(
        "delta", F.unix_timestamp("bucket") - F.unix_timestamp(F.lag("bucket").over(w))
    ).where(F.col("delta").isNotNull() & (F.col("delta") > 0))
    base = deltas.groupBy("event_type").agg(F.min("delta").alias("base_step_s"))
    return (
        deltas.join(base, "event_type")
        .groupBy("event_type", "base_step_s")
        .agg((F.max(F.col("delta") % F.col("base_step_s")) == 0).alias("regular"))
        .select("event_type", "base_step_s", "regular")
    )


def q_lag_features_1h(spark, sf_dir):
    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket", _safe_avg_col())
    w = Window.partitionBy("event_type").orderBy("bucket")
    v = F.round("avg_value", 6)
    return t.select(
        "event_type",
        "bucket",
        v.alias("v"),
        F.round(F.lag("avg_value", 1).over(w), 6).alias("v_lag_1"),
        F.round(F.lag("avg_value", 2).over(w), 6).alias("v_lag_2"),
        F.round(F.lead("avg_value", 1).over(w), 6).alias("v_lead_1"),
    )


def q_time_features_1h(spark, sf_dir):
    """Calendar features on the tier grid (reference _make_time_features
    semantics: trend over span, hour/day-of-week angles)."""
    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket")
    w = Window.partitionBy("event_type")
    epoch = F.unix_timestamp("bucket").cast("double")
    lo = F.min(epoch).over(w)
    hi = F.max(epoch).over(w)
    trend = F.when(hi != lo, (epoch - lo) / (hi - lo)).otherwise(F.lit(0.0))
    hour = F.hour("bucket").cast("double") + F.minute("bucket").cast("double") / 60.0
    day_angle = 2.0 * 3.141592653589793 * hour / 24.0
    dow = ((F.dayofweek("bucket") + 5) % 7).cast("double")  # Monday=0 like pandas
    week_angle = 2.0 * 3.141592653589793 * dow / 7.0
    # `+ 0.0` normalizes IEEE signed zero: Spark and DuckDB disagree on the
    # sign of cos/sin at exact multiples of pi/2 (-0.0 vs +0.0), and the
    # driver hashes the textual representation.
    return t.select(
        "event_type",
        "bucket",
        (F.round(trend, 6) + 0.0).alias("trend"),
        (F.round(F.sin(day_angle), 6) + 0.0).alias("day_sin"),
        (F.round(F.cos(day_angle), 6) + 0.0).alias("day_cos"),
        (F.round(F.sin(week_angle), 6) + 0.0).alias("week_sin"),
        (F.round(F.cos(week_angle), 6) + 0.0).alias("week_cos"),
    )


def q_codec_roundtrip_1h(spark, sf_dir):
    """Rollup → Gorilla encode → decode → emit. Oracle is the plain
    rollup SQL: a hash match proves the codec round-trip at query level."""
    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket", _safe_avg_col())
    enc = encode_tier(t, ["event_type"], "bucket", "avg_value", "1h")
    dec = decode_tier(enc, ["event_type"], "bucket", "avg_value")
    return dec.select("event_type", "bucket", F.round("avg_value", 6).alias("avg_value"))


def q_model_gapfill_1h(spark, sf_dir):
    """Ridge gap-fill of the 1h tier (non-SQL-expressible: rows-only check;
    kernel parity is pinned by tests/test_impute_spark.py)."""
    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket", _safe_avg_col())
    filled = model_gapfill(
        t, ["event_type"], "bucket", ["avg_value"], lags=(1, 2, 3, -1, -2, -3), min_samples_train=20
    )
    return filled.select("event_type", "bucket", F.round("avg_value", 6).alias("avg_value"))


def q_model_gapfill_elm_1h(spark, sf_dir):
    """Ridge gap-fill swapped for the ExtremeLearningMachine regressor
    (random-projection + ReLU + ridge, seeded — the reference's optional
    estimator). Rows-only: model-based."""
    from datafiller_spark.kernels import ExtremeLearningMachine

    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket", _safe_avg_col())
    filled = model_gapfill(
        t,
        ["event_type"],
        "bucket",
        ["avg_value"],
        lags=(1, 2, -1, -2),
        min_samples_train=20,
        regressor_factory=lambda: ExtremeLearningMachine(n_features=50, random_state=0),
    )
    return filled.select("event_type", "bucket", F.round("avg_value", 6).alias("avg_value"))


def q_simhash_near(spark, sf_dir):
    """SimHash near-duplicates within Hamming ≤ 3 via pigeonhole banding
    (rows-only: hash-based)."""
    from datafiller_spark.operators import simhash_near_dupes

    tok = tokenized_sequences(spark, sf_dir)
    return simhash_near_dupes(tok, "doc_id", "tokens", max_hamming=3)


def q_feature_scores(spark, sf_dir):
    """Imputation feature scores (shared-observation fraction × |corr| of
    the mean-pre-imputed series, reference multivariate/_scoring.py:15-55)
    between the event-type series of the 1h tier — computed DISTRIBUTED
    from pairwise co-moment aggregates (bucket-join of centered series),
    never materializing the pivoted matrix on one executor. The kernel
    formulation is cross-checked in tests/test_feature_scores.py.
    Output: (target, feature, score)."""
    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket", _safe_avg_col())
    # m = rows of the virtual matrix = distinct buckets across all series
    m_df = t.select(F.countDistinct("bucket").alias("__m"))
    stats = t.groupBy("event_type").agg(
        F.sum("avg_value").alias("__s"), F.count("avg_value").alias("__c")
    )
    centered = t.join(F.broadcast(stats), "event_type").select(
        "event_type", "bucket", (F.col("avg_value") - F.col("__s") / F.col("__c")).alias("cv")
    )
    a = centered.select(F.col("event_type").alias("target"), "bucket", F.col("cv").alias("cva"))
    b = centered.select(F.col("event_type").alias("feature"), "bucket", F.col("cv").alias("cvb"))
    pair = (
        a.join(b, "bucket")
        .where(F.col("target") != F.col("feature"))
        .groupBy("target", "feature")
        .agg(
            F.count("*").alias("shared"),
            F.round(F.sum(F.col("cva") * F.col("cvb")), 4).alias("cross"),
        )
    )
    sumsq = centered.groupBy("event_type").agg(
        F.round(F.sum(F.col("cv") * F.col("cv")), 4).alias("ssq")
    )
    sa = sumsq.select(F.col("event_type").alias("target"), F.col("ssq").alias("ssq_t"))
    sb = sumsq.select(F.col("event_type").alias("feature"), F.col("ssq").alias("ssq_f"))
    out = (
        pair.join(F.broadcast(sa), "target")
        .join(F.broadcast(sb), "feature")
        .crossJoin(F.broadcast(m_df))
    )
    m = F.col("__m").cast("double")
    corr = (F.col("cross") / m) / (F.sqrt(F.col("ssq_t") / m) * F.sqrt(F.col("ssq_f") / m))
    score = (F.col("shared") / m) * F.abs(corr)
    return out.select("target", "feature", (F.round(score, 6) + 0.0).alias("score"))


def q_gapfill_metrics(spark, sf_dir):
    """Per-series fill attribution (interp/model/fallback — the
    reference's 3-step policy) over the 1h tier. Rows-only: the split
    depends on the model kernel."""
    from datafiller_spark.operators import gapfill_metrics

    t = _events_tier(spark, sf_dir, "1h").select("event_type", "bucket", _safe_avg_col())
    return gapfill_metrics(t, ["event_type"], "bucket", "avg_value", min_samples_train=20)


def q_tokens_meta(spark, sf_dir):
    tok = tokenized_sequences(spark, sf_dir, spread=False)
    return tok.select("doc_id", "n_tok", "source", "event_ts")


def q_token_values(spark, sf_dir):
    """Per-row token-array equality invariant, value-checked: every
    (doc_id, position, token id) must match the oracle's independent
    derivation — proving tokens pass through the engine untransformed."""
    tok = tokenized_sequences(spark, sf_dir)
    return tok.select(
        "doc_id", F.posexplode("tokens").alias("pos", "token")
    ).withColumn("pos", F.col("pos") + 1)


def q_token_rollup_1m(spark, sf_dir):
    tok = tokenized_sequences(spark, sf_dir, spread=False)
    t = rollup(tok, ["source"], "event_ts", "n_tok", "1m")
    return t.select(
        "source",
        "bucket",
        F.col("n_points").alias("n_seqs"),
        F.col("sum_value").cast("long").alias("toks"),
        F.col("min_value").cast("long").alias("min_tok"),
        F.col("max_value").cast("long").alias("max_tok"),
    )


def q_token_rollup_1h_cascade(spark, sf_dir):
    tok = tokenized_sequences(spark, sf_dir, spread=False)
    t1m = rollup(tok, ["source"], "event_ts", "n_tok", "1m")
    t1h = cascade(t1m, ["source"], "1h")
    return t1h.select(
        "source",
        "bucket",
        F.col("n_points").alias("n_seqs"),
        F.col("sum_value").cast("long").alias("toks"),
    )


def q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", "text")


def q_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # The CHECKED config is the bounded one a 100 TB pipeline would run:
    # finite posting cap, mirrored in the DuckDB oracle (the same
    # QUALIFY count<=cap filter on the posting CTE). The exact
    # max_posting_len=None form is cross-checked from pytest on a
    # corpus where the cap actually binds (test_dedup_similarity.py).
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_posting_len=_POSTING_CAP
    )


def q_minhash_lsh(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.2)


def q_simhash(spark, sf_dir):
    tok = tokenized_sequences(spark, sf_dir)
    return simhash_duplicates(tok, "doc_id", "tokens")


def q_dup_clusters(spark, sf_dir):
    """Connected components over the exact n-gram near-dup pairs → one
    canonical doc per duplicate cluster (per-task spanning forests, then
    one driver union-find over them). Oracle: DuckDB recursive-CTE
    transitive closure over the same pair set."""
    from datafiller_spark.operators import dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_posting_len=_POSTING_CAP
    )
    return dup_clusters(pairs, "id_a", "id_b")


def q_sample_by_hash(spark, sf_dir):
    """Deterministic 10% md5-hash sample — reproducible across engines,
    partitionings, and reruns (what incremental curation pipelines need
    instead of RNG sampling)."""
    from datafiller_spark.operators import sample_by_hash

    docs = load_table(spark, sf_dir, "documents")
    return sample_by_hash(docs, "doc_id", 0.10, salt="r3").select("doc_id", "source")


def q_pack_sequences(spark, sf_dir):
    """First-fit contiguous packing of sequences into 4096-token bins
    per source (pretraining context packing) — one window cumsum."""
    from datafiller_spark.operators import pack_sequences

    tok = tokenized_sequences(spark, sf_dir, spread=False)
    packed = pack_sequences(tok, ["source"], ["event_ts", "doc_id"], "n_tok", 4096)
    return packed.select("source", "doc_id", "n_tok", "bin_id", "bin_offset")


def q_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, "vec_id", "embedding", k=5)


def q_ann_lsh_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)
    # tuned on the sf0.1 recall/cost curve (scripts/ann_recall_sweep.py,
    # table in BENCH.md): recall@5 0.97 at ~48% of corpus scanned — the
    # honest ceiling on UNCLUSTERED uniform vectors, where true top-5
    # neighbors are barely more similar than random points
    return lsh_topk(
        emb, queries, "vec_id", "embedding", k=5,
        dim=64,  # P=12/T=32/r=2 swept config is now the operator default
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (second ANN scale path besides LSH):
    inverted lists under k-means coarse centroids trained on a bounded
    seeded sample, nprobe-list probing, exact cosine re-rank. No SQL
    oracle (approximate); value-checked by check_oracle's exact NumPy
    plan mirror.

    Config = the sweep's 0.9+ point (C=32 nprobe=24: recall@5 0.955 on
    200 queries, 0.960 Spark-validated — BENCH.md table). On this
    uniform corpus that scans ~75% of the lists; r3's C=16 nprobe=4 ran
    ~25% but at recall 0.577, which is not a useful retrieval point."""
    from datafiller_spark.operators import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)
    # C=32/nprobe=24 swept config is now the operator default
    return ivf_topk(emb, queries, "vec_id", "embedding", k=5, dim=64)


def q_embedding_near_dupes(spark, sf_dir):
    """Cosine-threshold near-duplicate pairs over embeddings — the
    brute-force VERIFIER (quadratic; the scale path is
    ``embedding_near_dupes_lsh`` below, tested against this form)."""
    from datafiller_spark.operators import embedding_near_dupes

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return embedding_near_dupes(emb, "vec_id", "embedding", threshold=0.4)


def q_embedding_near_dupes_lsh(spark, sf_dir):
    """Embedding near-dup pairs via hyperplane LSH banding + exact
    cosine verification — the 100 TB scale path (linear shuffle, no
    all-pairs join). The test corpus has no natural pairs above 0.6, so
    the corpus is augmented with deterministic scaled copies
    (vec_id + 10000, 2·v → cosine exactly 1): positive scaling preserves
    every hyperplane sign, so each copy shares all its original's
    buckets and the verified output provably equals the exact
    threshold-0.95 pair set — which is what the SQL oracle computes
    (i.e. the oracle checks LSH candidates ⊇ all qualifying pairs)."""
    from datafiller_spark.operators import embedding_near_dupes_lsh

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.unionByName(
        emb.select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        )
    )
    # 12 planes/table: 2^12 buckets over the 10k-vector corpus keeps
    # random bucket collisions (the verification load) ~16x below the
    # 8-plane setting; the planted cosine-1.0 copies agree with their
    # originals on EVERY hyperplane, so the output is provably still the
    # exact pair set. Production corpora with organic near-threshold
    # pairs trade planes vs tables by the recall formula in the
    # operator docstring.
    return embedding_near_dupes_lsh(
        corpus, "vec_id", "embedding", threshold=0.95, dim=64, n_planes=12, n_tables=8
    )


def q_token_bigrams(spark, sf_dir):
    """Top-100 token bigrams by count — n-gram statistics over the
    token arrays themselves (array ops stay JVM-side: transform +
    element_at + explode, no Python)."""
    tok = tokenized_sequences(spark, sf_dir)
    idx = F.sequence(F.lit(0), F.size("tokens") - 2)
    bigrams = F.when(
        F.size("tokens") >= 2,
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("tokens", i + 1).alias("t1"),
                F.element_at("tokens", i + 2).alias("t2"),
            ),
        ),
    )
    counts = (
        tok.select(F.explode(bigrams).alias("bg"))
        .groupBy(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
        .agg(F.count("*").alias("n"))
    )
    # global top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps, no single-partition shuffle of the full count table); the
    # rank window then runs over the 100 survivors only
    top = counts.orderBy(F.desc("n"), F.asc("t1"), F.asc("t2")).limit(100)
    w = Window.orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"))
    return top.withColumn("rank", F.row_number().over(w)).select("t1", "t2", "n", "rank")


def q_embedding_quality(spark, sf_dir):
    """Per-label embedding stats: counts + rounded norms."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
    )


def q_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, "text").select(
        "doc_id", "q_chars", "q_tokens", "q_punct", "q_digits", "q_stopwords",
        "q_mean_word_len", "q_score",
    )


def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs, "text").select(
        "doc_id", "hits_en", "hits_fr", "hits_de", "hits_es", "lang_guess"
    )


def q_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(normalized).alias("fp"))


def q_asof_join(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total_price"))
    )
    return asof_join(
        events, orders, ["user_id"], "ts", "o_orderdate", ["n_orders", "total_price"]
    )


def q_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_topk(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    totals = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spend"), F.count("*").alias("n_orders"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(F.col("n_name").alias("nation"), F.col("o_custkey").alias("custkey"),
                "total_spend", "n_orders", "rank")
    )


def q_multimodal_meta(spark, sf_dir):
    """Binary-asset plumbing: documents as fake 'image' payloads; the
    SQL-checkable part is the metadata (byte sizes). Real decode (PNG/
    BMP/WAV, kernels/media.py) is exercised by q_multimodal_decode and
    the media test suite; these text payloads simply decode_ok=false."""
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = extract_features(assets)
    return feats.select("asset_id", "kind", "n_bytes")


def q_multimodal_decode(spark, sf_dir):
    """REAL media decode end-to-end: synthesize deterministic PNG/BMP/WAV
    payloads from doc_id (kernels/media.py encoders, in-task), decode them
    back with the from-scratch decoders, and emit the typed metadata. The
    width/height/channels/sample_rate are pure functions of doc_id, so the
    DuckDB oracle recomputes them exactly — a hash-exact check that the
    byte-level codecs parse their own wire formats correctly."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(synthesize_assets(docs.select("doc_id")))
    return feats.select(
        "asset_id", "kind", "decode_ok", "width", "height", "channels", "sample_rate"
    )


def q_video_frames(spark, sf_dir):
    """REAL video decode end-to-end: synthesize deterministic MJPEG-AVI
    payloads (every doc_id % 10 == 6; frames are baseline JPEGs from
    kernels/jpeg.py), demux + JPEG-decode each frame in-task via
    sample_frames, and emit one row per frame with the DECODED frame
    dimensions (features[0]/[1] = width/height of the decoded pixels).
    The DuckDB oracle recomputes frame count and dimensions from the
    doc_id formulas — a hash-exact check that the from-scratch AVI
    demuxer and JPEG entropy decoder parse real wire bytes correctly."""
    docs = load_table(spark, sf_dir, "documents")
    assets = synthesize_assets(docs.select("doc_id"))
    frames = sample_frames(assets)
    return frames.select(
        "asset_id",
        "frame_no",
        F.element_at("features", 1).cast("int").alias("frame_w"),
        F.element_at("features", 2).cast("int").alias("frame_h"),
    )


def q_thumbnails(spark, sf_dir):
    """Decode → resize(8x8 bilinear) → re-encode-PNG normalization over
    every synthesized asset (images directly, videos via their first
    decoded MJPEG frame, audio honestly decode_ok=false). The DuckDB
    oracle recomputes the metadata from the doc_id formulas; the resize
    math itself is pinned by tests/test_imageops.py (np.repeat
    equivalence, identity exactness, hand-computed lerp values)."""
    from datafiller_spark.operators.multimodal import thumbnails

    docs = load_table(spark, sf_dir, "documents")
    th = thumbnails(synthesize_assets(docs.select("doc_id")), out_h=8, out_w=8)
    return th.select(
        "asset_id", "src_width", "src_height", "width", "height", "decode_ok"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rollup_1m": q_rollup_1m,
        "rollup_1h_cascade": q_rollup_1h_cascade,
        "rollup_1d_cascade": q_rollup_1d_cascade,
        "grid_1h": q_grid_1h,
        "gap_ffill_1h": q_gap_ffill_1h,
        "gap_bfill_1h": q_gap_bfill_1h,
        "gap_linear_1h": q_gap_linear_1h,
        "gap_small_1h": q_gap_small_1h,
        "gap_spline_1h": q_gap_spline_1h,
        "freq_infer": q_freq_infer,
        "lag_features_1h": q_lag_features_1h,
        "time_features_1h": q_time_features_1h,
        "codec_roundtrip_1h": q_codec_roundtrip_1h,
        "model_gapfill_1h": q_model_gapfill_1h,
        "model_gapfill_elm_1h": q_model_gapfill_elm_1h,
        "gapfill_metrics": q_gapfill_metrics,
        "feature_scores": q_feature_scores,
        "tokens_meta": q_tokens_meta,
        "token_values": q_token_values,
        "token_rollup_1m": q_token_rollup_1m,
        "token_rollup_1h_cascade": q_token_rollup_1h_cascade,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "dup_clusters": q_dup_clusters,
        "sample_by_hash": q_sample_by_hash,
        "pack_sequences": q_pack_sequences,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_near": q_simhash_near,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near_dupes": q_embedding_near_dupes,
        "embedding_near_dupes_lsh": q_embedding_near_dupes_lsh,
        "token_bigrams": q_token_bigrams,
        "embedding_quality": q_embedding_quality,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "asof_join": q_asof_join,
        "pricing_summary": q_pricing_summary,
        "join_topk": q_join_topk,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_decode": q_multimodal_decode,
        "video_frames": q_video_frames,
        "thumbnails": q_thumbnails,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)

_SQL_STOP = {
    "en": "('the','and','of','to','in','is','that','it','was','for')",
    "fr": "('le','la','les','de','des','et','est','que','un','une')",
    "de": "('der','die','das','und','ist','nicht','ein','eine','zu','mit')",
    "es": "('el','la','los','de','y','es','que','un','una','en')",
}

_SQL_WORDS = "str_split_regex(trim({t}), '\\s+')"
_SQL_HITS = (
    "len(list_filter(str_split_regex(lower({t}), '\\s+'), x -> x IN {vocab}))"
)

_SQL_NTOK = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(str_split_regex(trim(text), '\\s+')) END"
)

# finite posting-list cap used by the CHECKED ngram_jaccard/dup_clusters
# config (Spark arg and DuckDB oracle mirror it identically); the exact
# None form is pytest-cross-checked where the cap binds
_POSTING_CAP = 10_000

_SQL_SHINGLES = """
WITH words AS (
  SELECT doc_id, str_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
shingled AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) AS grams
  FROM words WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, len(grams) AS n_grams FROM shingled),
posting_all AS (SELECT doc_id, unnest(grams) AS gram FROM shingled),
posting AS (
  -- mirror of the Spark side's max_posting_len: shingles shared by more
  -- than the cap contribute no pairs (boilerplate-shingle bound)
  SELECT doc_id, gram FROM posting_all
  QUALIFY count(*) OVER (PARTITION BY gram) <= {posting_cap}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM posting a JOIN posting b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       sa.n_grams + sb.n_grams - inter AS union_size,
       round(inter * 1.0 / (sa.n_grams + sb.n_grams - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(inter * 1.0 / (sa.n_grams + sb.n_grams - inter), 6) >= 0.2
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["rollup_1m"] = f"""
SELECT event_type, date_trunc('minute', ts) AS bucket, {_ORACLE_METRICS}
FROM events GROUP BY 1, 2
"""
    sql["rollup_1h_cascade"] = f"""
SELECT event_type, date_trunc('hour', ts) AS bucket, {_ORACLE_METRICS}
FROM events GROUP BY 1, 2
"""
    sql["rollup_1d_cascade"] = f"""
SELECT event_type, date_trunc('day', ts) AS bucket, {_ORACLE_METRICS}
FROM events GROUP BY 1, 2
"""
    sql["grid_1h"] = """
WITH tier AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(value) AS n_points
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT event_type, min(bucket) lo, max(bucket) hi FROM tier GROUP BY 1)
)
SELECT g.event_type, g.bucket, coalesce(t.n_points, 0) AS n_points
FROM grid g LEFT JOIN tier t USING (event_type, bucket)
"""
    sql["gap_ffill_1h"] = f"""
WITH g AS ({_ORACLE_GRID_1H})
SELECT event_type, bucket,
       round(last_value(avg_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled
FROM g
"""
    sql["gap_bfill_1h"] = f"""
WITH g AS ({_ORACLE_GRID_1H})
SELECT event_type, bucket,
       round(first_value(avg_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6) AS filled
FROM g
"""
    _anchors = """
  SELECT event_type, bucket, avg_value,
         last_value(avg_value IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER w_prev AS prev_t,
         first_value(avg_value IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER w_next AS next_t
  FROM g
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
"""
    _linear_case = """
  CASE
    WHEN avg_value IS NOT NULL THEN avg_value
    WHEN prev_t IS NULL THEN NULL
    WHEN next_t IS NULL THEN prev_v
    ELSE prev_v + (next_v - prev_v) *
         (epoch(bucket) - epoch(prev_t)) / (epoch(next_t) - epoch(prev_t))
  END
"""
    sql["gap_linear_1h"] = f"""
WITH g AS ({_ORACLE_GRID_1H}),
anchored AS ({_anchors})
SELECT event_type, bucket, round({_linear_case}, 6) AS filled
FROM anchored
"""
    sql["gap_small_1h"] = f"""
WITH g AS ({_ORACLE_GRID_1H}),
flags AS (
  SELECT *,
         CASE WHEN (avg_value IS NULL) IS DISTINCT FROM
              lag(avg_value IS NULL) OVER (PARTITION BY event_type ORDER BY bucket)
              THEN 1 ELSE 0 END AS run_started
  FROM g
),
runs AS (
  SELECT *,
         sum(run_started) OVER (PARTITION BY event_type ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flags
),
runlen AS (
  SELECT *, count(*) OVER (PARTITION BY event_type, run_id) AS run_len FROM runs
),
anchored AS (
  SELECT event_type, bucket, avg_value, run_len,
         last_value(avg_value IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER w_prev AS prev_t,
         first_value(avg_value IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER w_next AS next_t
  FROM runlen
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket,
       round(CASE WHEN avg_value IS NOT NULL THEN avg_value
                  WHEN run_len <= 3 THEN ({_linear_case})
                  ELSE avg_value END, 6) AS filled
FROM anchored
"""
    sql["freq_infer"] = """
WITH tier AS (
  SELECT DISTINCT event_type, date_trunc('minute', ts) AS bucket FROM events
),
deltas AS (
  SELECT event_type,
         CAST(epoch(bucket) - epoch(lag(bucket) OVER (PARTITION BY event_type ORDER BY bucket)) AS BIGINT) AS delta
  FROM tier
),
positive AS (SELECT * FROM deltas WHERE delta IS NOT NULL AND delta > 0),
base AS (SELECT event_type, min(delta) AS base_step_s FROM positive GROUP BY 1)
SELECT p.event_type, b.base_step_s, max(p.delta % b.base_step_s) = 0 AS regular
FROM positive p JOIN base b USING (event_type)
GROUP BY 1, 2
"""
    sql["lag_features_1h"] = """
WITH tier AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(sum(value), 4) / count(value) AS avg_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket,
       round(avg_value, 6) AS v,
       round(lag(avg_value, 1) OVER w, 6) AS v_lag_1,
       round(lag(avg_value, 2) OVER w, 6) AS v_lag_2,
       round(lead(avg_value, 1) OVER w, 6) AS v_lead_1
FROM tier
WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
"""
    sql["time_features_1h"] = """
WITH tier AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS bucket FROM events
),
spans AS (
  SELECT event_type, min(epoch(bucket)) lo, max(epoch(bucket)) hi FROM tier GROUP BY 1
)
SELECT t.event_type, t.bucket,
       round(CASE WHEN s.hi <> s.lo THEN (epoch(t.bucket) - s.lo) / (s.hi - s.lo) ELSE 0.0 END, 6) + 0.0 AS trend,
       round(sin(2 * pi() * (hour(t.bucket) + minute(t.bucket) / 60.0) / 24.0), 6) + 0.0 AS day_sin,
       round(cos(2 * pi() * (hour(t.bucket) + minute(t.bucket) / 60.0) / 24.0), 6) + 0.0 AS day_cos,
       round(sin(2 * pi() * (isodow(t.bucket) - 1) / 7.0), 6) + 0.0 AS week_sin,
       round(cos(2 * pi() * (isodow(t.bucket) - 1) / 7.0), 6) + 0.0 AS week_cos
FROM tier t JOIN spans s USING (event_type)
"""
    sql["feature_scores"] = """
WITH tier AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(sum(value), 4) / count(value) AS avg_value
  FROM events GROUP BY 1, 2
),
m AS (SELECT count(DISTINCT bucket) AS m FROM tier),
stats AS (
  SELECT event_type, sum(avg_value) AS s, count(avg_value) AS c
  FROM tier GROUP BY 1
),
centered AS (
  SELECT t.event_type, t.bucket, t.avg_value - st.s / st.c AS cv
  FROM tier t JOIN stats st USING (event_type)
),
pair AS (
  SELECT a.event_type AS target, b.event_type AS feature,
         count(*) AS shared, round(sum(a.cv * b.cv), 4) AS crossmom
  FROM centered a JOIN centered b
    ON a.bucket = b.bucket AND a.event_type <> b.event_type
  GROUP BY 1, 2
),
sumsq AS (
  SELECT event_type, round(sum(cv * cv), 4) AS ssq FROM centered GROUP BY 1
)
SELECT p.target, p.feature,
       round((p.shared * 1.0 / m.m) * abs((p.crossmom / m.m) /
             (sqrt(sa.ssq / m.m) * sqrt(sb.ssq / m.m))), 6) + 0.0 AS score
FROM pair p
JOIN sumsq sa ON sa.event_type = p.target
JOIN sumsq sb ON sb.event_type = p.feature
CROSS JOIN m
"""
    sql["codec_roundtrip_1h"] = """
SELECT event_type, date_trunc('hour', ts) AS bucket,
       round(round(sum(value), 4) / count(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""
    sql["tokens_meta"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       {_SQL_NTOK} AS n_tok,
       source,
       TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 1440) * INTERVAL 1 MINUTE AS event_ts
FROM documents
"""
    sql["token_values"] = """
WITH words AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(str_split_regex(trim(text), '\\s+')) AS w,
         generate_subscripts(str_split_regex(trim(text), '\\s+'), 1) AS pos
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id, pos,
       CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % 2147483647 AS INTEGER) AS token
FROM words
"""
    sql["token_rollup_1m"] = f"""
WITH tok AS (
  SELECT source,
         TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 1440) * INTERVAL 1 MINUTE AS event_ts,
         {_SQL_NTOK} AS n_tok
  FROM documents
)
SELECT source, date_trunc('minute', event_ts) AS bucket,
       count(n_tok) AS n_seqs,
       CAST(sum(n_tok) AS BIGINT) AS toks,
       CAST(min(n_tok) AS BIGINT) AS min_tok,
       CAST(max(n_tok) AS BIGINT) AS max_tok
FROM tok GROUP BY 1, 2
"""
    sql["token_rollup_1h_cascade"] = f"""
WITH tok AS (
  SELECT source,
         TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 1440) * INTERVAL 1 MINUTE AS event_ts,
         {_SQL_NTOK} AS n_tok
  FROM documents
)
SELECT source, date_trunc('hour', event_ts) AS bucket,
       count(n_tok) AS n_seqs,
       CAST(sum(n_tok) AS BIGINT) AS toks
FROM tok GROUP BY 1, 2
"""
    sql["dedup_exact"] = """
WITH fps AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
groups AS (
  SELECT fp, count(*) AS group_size, min(doc_id) AS canonical_id
  FROM fps GROUP BY fp HAVING count(*) > 1
)
SELECT f.fp, g.group_size, f.doc_id, g.canonical_id
FROM fps f JOIN groups g USING (fp)
"""
    sql["ngram_jaccard"] = _SQL_SHINGLES.format(posting_cap=_POSTING_CAP)

    # Full cross-engine mirror of the MinHash-LSH pipeline: identical
    # md5-based gram hashes, the same seeded affine family (constants
    # generated once and embedded on both sides), md5 band buckets, the
    # hot-bucket cap, and exact-Jaccard verification. A hash match here
    # proves signatures, banding, candidate generation, AND verification
    # agree value-for-value with an independent engine.
    from datafiller_spark.operators.dedup import _MERSENNE, _minhash_params

    mh_params = _minhash_params(32)
    rows_per_band = 32 // 16
    min_exprs = ",\n      ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE}))"
        for a, b in mh_params
    )
    sql["minhash_lsh"] = f"""
WITH words AS (
  SELECT doc_id, str_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
shingled AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) AS grams
  FROM words WHERE len(w) >= 3
),
hashed AS (
  SELECT doc_id, grams,
         list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT % {_MERSENNE}) AS hs
  FROM shingled
),
sig AS (
  SELECT doc_id, grams,
    [
      {min_exprs}
    ] AS signature
  FROM hashed
),
banded AS (
  SELECT s.doc_id, b.band,
         md5(array_to_string(
           s.signature[b.band * {rows_per_band} + 1 : b.band * {rows_per_band} + {rows_per_band}],
           ',')) AS band_hash
  FROM sig s, (SELECT unnest(range(16)) AS band) b
),
capped AS (
  SELECT doc_id, band, band_hash FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_hash) AS bs FROM banded
  ) WHERE bs <= 200
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM capped x JOIN capped y
    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(ga.grams, gb.grams)) AS inter,
         len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) AS union_size
  FROM cand c
  JOIN sig ga ON ga.doc_id = c.id_a
  JOIN sig gb ON gb.doc_id = c.id_b
)
SELECT id_a, id_b, inter, union_size,
       round(inter * 1.0 / union_size, 6) AS jaccard
FROM verified
WHERE round(inter * 1.0 / union_size, 6) >= 0.2
"""
    sql["dup_clusters"] = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_SQL_SHINGLES.format(posting_cap=_POSTING_CAP)})
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
),
canon AS (SELECT id AS doc_id, min(label) AS canonical_id FROM reach GROUP BY 1),
sizes AS (SELECT canonical_id, count(*) AS cluster_size FROM canon GROUP BY 1)
SELECT c.doc_id, c.canonical_id, s.cluster_size
FROM canon c JOIN sizes s USING (canonical_id)
"""
    # Cross-engine mirror of the 64-bit SimHash pipeline. The splitmix64
    # avalanche is exact mod-2^64 arithmetic: multiplications decompose
    # into 32-bit halves inside HUGEINT (DuckDB raises on overflow
    # instead of wrapping), shifts are floor divisions, xor is xor().
    # Verified bit-for-bit against the NumPy kernel.
    _M64 = 18446744073709551616

    def _mulmod64(a: str, b: int) -> str:
        return (
            f"((({a}) % 4294967296) * ({b % 4294967296}) + "
            f"(((({a}) % 4294967296) * ({b // 4294967296}) + "
            f"(({a}) // 4294967296) * ({b % 4294967296})) % 4294967296) "
            f"* 4294967296) % {_M64}"
        )

    bitpow = ",\n    ".join(f"({b}, {1 << b}::HUGEINT)" for b in range(64))
    _SIM_CTE = f"""
words AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(str_split_regex(trim(text), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
toks0 AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % 2147483647 AS HUGEINT) AS x
  FROM words
),
h1 AS (SELECT doc_id, {_mulmod64('x', 0x9E3779B97F4A7C15)} AS h FROM toks0),
h2 AS (SELECT doc_id, xor(h, h // 1073741824) AS h FROM h1),
h3 AS (SELECT doc_id, {_mulmod64('h', 0xBF58476D1CE4E5B9)} AS h FROM h2),
h4 AS (SELECT doc_id, xor(h, h // 134217728) AS h FROM h3),
h5 AS (SELECT doc_id, {_mulmod64('h', 0x94D049BB133111EB)} AS h FROM h4),
h6 AS (SELECT doc_id, xor(h, h // 2147483648) AS h FROM h5),
bitpow(bit, pow) AS (
  VALUES
    {bitpow}
),
votes AS (
  SELECT t.doc_id, b.bit, b.pow,
         SUM(CASE WHEN (t.h // b.pow) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM h6 t CROSS JOIN bitpow b
  GROUP BY 1, 2, 3
),
usim_nz AS (
  SELECT doc_id, SUM(CASE WHEN v > 0 THEN pow ELSE 0::HUGEINT END) AS usim
  FROM votes GROUP BY 1
),
usim AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, COALESCE(u.usim, 0::HUGEINT) AS usim
  FROM documents d LEFT JOIN usim_nz u ON CAST(d.doc_id AS VARCHAR) = u.doc_id
),
sim AS (
  SELECT doc_id,
         CAST(CASE WHEN usim >= 9223372036854775808 THEN usim - {_M64} ELSE usim END AS BIGINT)
           AS simhash,
         usim
  FROM usim
)
"""
    sql["simhash"] = f"""
WITH {_SIM_CTE},
groups AS (
  SELECT simhash, count(*) AS group_size, min(doc_id) AS canonical_id
  FROM sim GROUP BY 1 HAVING count(*) > 1
)
SELECT s.simhash, g.group_size, s.doc_id, g.canonical_id
FROM sim s JOIN groups g USING (simhash)
"""
    sql["simhash_near"] = f"""
WITH {_SIM_CTE},
bandpow(band, bpow) AS (VALUES (0, 1::HUGEINT), (1, 65536::HUGEINT),
                               (2, 4294967296::HUGEINT), (3, 281474976710656::HUGEINT)),
banded AS (
  SELECT s.doc_id, s.simhash, b.band, (s.usim // b.bpow) % 65536 AS val
  FROM sim s CROSS JOIN bandpow b
),
capped AS (
  SELECT doc_id, simhash, band, val FROM (
    SELECT *, count(*) OVER (PARTITION BY band, val) AS bs FROM banded
  ) WHERE bs <= 200
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         x.simhash AS sa, y.simhash AS sb
  FROM capped x JOIN capped y
    ON x.band = y.band AND x.val = y.val AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""
    sql["sample_by_hash"] = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':r3'), 1, 8))::BIGINT % 10000 < 1000
"""
    sql["pack_sequences"] = f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 1440) * INTERVAL 1 MINUTE AS event_ts,
         {_SQL_NTOK} AS n_tok
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY event_ts, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok
)
SELECT source, doc_id, n_tok,
       CAST(floor(start / 4096.0) AS BIGINT) AS bin_id,
       CAST(start % 4096 AS BIGINT) AS bin_offset
FROM packed
"""
    sql["cosine_topk"] = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM emb q JOIN emb c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""
    sql["embedding_near_dupes"] = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""
    sql["embedding_near_dupes_lsh"] = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corp AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000, list_transform(v, x -> x * 2.0) FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM corp a JOIN corp b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
"""
    sql["token_bigrams"] = """
WITH words AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(str_split_regex(trim(text), '\\s+')) AS w,
         generate_subscripts(str_split_regex(trim(text), '\\s+'), 1) AS pos
  FROM documents WHERE length(trim(text)) > 0
),
tok AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % 2147483647 AS INTEGER) AS token
  FROM words
),
big AS (
  SELECT a.token AS t1, b.token AS t2, count(*) AS n
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
ranked AS (
  SELECT t1, t2, n, row_number() OVER (ORDER BY n DESC, t1 ASC, t2 ASC) AS rank
  FROM big
)
SELECT t1, t2, n, rank FROM ranked WHERE rank <= 100
"""
    sql["embedding_quality"] = """
WITH norms AS (
  SELECT label, sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(avg(nrm), 4) AS avg_norm,
       round(min(nrm), 4) AS min_norm,
       round(max(nrm), 4) AS max_norm
FROM norms GROUP BY label
"""
    hits = {lang: _SQL_HITS.format(t="text", vocab=_SQL_STOP[lang]) for lang in _SQL_STOP}
    sql["quality"] = f"""
SELECT doc_id,
       length(text) AS q_chars,
       {_SQL_NTOK} AS q_tokens,
       length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS q_punct,
       length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS q_digits,
       {hits["en"]} AS q_stopwords,
       round(CASE WHEN {_SQL_NTOK} > 0
                  THEN length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / {_SQL_NTOK}
                  ELSE 0.0 END, 4) AS q_mean_word_len,
       round(
         least({_SQL_NTOK} / 64.0, 1.0) * 0.4
         + CASE WHEN length(text) > 0 THEN 1.0 - least((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 8.0 / length(text), 1.0) ELSE 0.0 END * 0.2
         + CASE WHEN length(text) > 0 THEN 1.0 - least((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 4.0 / length(text), 1.0) ELSE 0.0 END * 0.2
         + least({hits["en"]} / 8.0, 1.0) * 0.2, 6) AS q_score
FROM documents
"""
    sql["lang_id"] = f"""
WITH h AS (
  SELECT doc_id,
         {hits["en"]} AS hits_en, {hits["fr"]} AS hits_fr,
         {hits["de"]} AS hits_de, {hits["es"]} AS hits_es
  FROM documents
)
SELECT doc_id, hits_en, hits_fr, hits_de, hits_es,
       CASE WHEN greatest(hits_en, hits_fr, hits_de, hits_es) <= 0 THEN 'und'
            WHEN hits_en = greatest(hits_en, hits_fr, hits_de, hits_es) THEN 'en'
            WHEN hits_fr = greatest(hits_en, hits_fr, hits_de, hits_es) THEN 'fr'
            WHEN hits_de = greatest(hits_en, hits_fr, hits_de, hits_es) THEN 'de'
            ELSE 'es' END AS lang_guess
FROM h
"""
    sql["fingerprint"] = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""
    sql["asof_join"] = """
WITH o AS (
  SELECT o_custkey AS user_id, o_orderdate,
         count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, o.n_orders, o.total_price
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
"""
    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY 1, 2
"""
    sql["join_topk"] = """
WITH totals AS (
  SELECT o_custkey, round(sum(o_totalprice), 4) AS total_spend, count(*) AS n_orders
  FROM orders GROUP BY 1
),
joined AS (
  SELECT n.n_name AS nation, t.o_custkey AS custkey, t.total_spend, t.n_orders
  FROM totals t
  JOIN customer c ON t.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY nation ORDER BY total_spend DESC, custkey ASC) AS rank
  FROM joined
)
SELECT nation, custkey, total_spend, n_orders, rank FROM ranked WHERE rank <= 3
"""
    sql["multimodal_meta"] = """
SELECT CAST(doc_id AS VARCHAR) AS asset_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
FROM documents
"""
    sql["multimodal_decode"] = """
SELECT CAST(doc_id AS VARCHAR) AS asset_id,
       CASE WHEN doc_id % 10 = 6 THEN 'video'
            WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       TRUE AS decode_ok,
       CASE WHEN doc_id % 2 = 0 THEN CAST(4 + doc_id % 13 AS INTEGER) END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(3 + doc_id % 7 AS INTEGER) END AS height,
       CASE WHEN doc_id % 10 = 6 THEN CAST(3 AS INTEGER)
            WHEN doc_id % 2 = 0
            THEN CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END AS INTEGER)
            ELSE CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
       END AS channels,
       CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + (doc_id % 5) * 100 AS INTEGER) END AS sample_rate
FROM documents
"""
    sql["thumbnails"] = """
SELECT CAST(doc_id AS VARCHAR) AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN CAST(4 + doc_id % 13 AS INTEGER) END AS src_width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(3 + doc_id % 7 AS INTEGER) END AS src_height,
       CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS INTEGER) END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS INTEGER) END AS height,
       doc_id % 2 = 0 AS decode_ok
FROM documents
"""
    sql["video_frames"] = """
SELECT CAST(doc_id AS VARCHAR) AS asset_id,
       CAST(unnest(range(2 + doc_id % 3)) AS INTEGER) AS frame_no,
       CAST(4 + doc_id % 13 AS INTEGER) AS frame_w,
       CAST(3 + doc_id % 7 AS INTEGER) AS frame_h
FROM documents
WHERE doc_id % 10 = 6
"""
    # model_gapfill_1h, gapfill_metrics, simhash, ann_lsh_topk, ivf_topk:
    # intentionally no oracle (model-based / engine-specific hashes /
    # approximate) → driver records rows-only checks; the model path is
    # pinned against the REAL reference library in
    # tests/test_reference_parity.py (bit-exact), the rest by property
    # tests and recall assertions.
    return sql


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full rollup+cascade+ridge-gap-fill pipeline at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    t1m = _events_tier(spark, sf_dir, "1m")
    t1h = cascade(t1m, ["event_type"], "1h")
    return model_gapfill(
        t1h, ["event_type"], "bucket", ["avg_value"], lags=(1, 2, 3, -1, -2, -3), min_samples_train=20
    )
