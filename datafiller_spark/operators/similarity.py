"""Similarity search over embedding columns.

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products via ``zip_with`` + ``aggregate`` (JVM-side, codegen'd);
  the query set is small and **broadcast**, so the scan side streams
  once with no shuffle before the per-query top-k window.
- ``lsh_topk``: ANN scale path #1 — random-hyperplane sign buckets
  shrink the candidate set from |corpus| to a bucket (multi-probe over
  Hamming ≤ 1 neighbors keeps recall high); exact cosine re-ranks.
- ``ivf_topk``: ANN scale path #2 — inverted lists under k-means coarse
  centroids, nprobe probing, exact re-rank.
- ``embedding_near_dupes``: cosine-threshold pairs, brute force — the
  VERIFIER/test oracle only (quadratic).
- ``embedding_near_dupes_lsh``: the scale path for embedding dedup —
  hyperplane-banded candidates, exact cosine verification per candidate
  (the embedding-side mirror of MinHash-LSH → ngram-Jaccard).

All hyperplane/centroid projections run in ONE vectorized pandas UDF
per table scan: the projection matrix is a Spark broadcast NumPy array
and each Arrow batch costs a single GEMM. (The round-2 form inlined
``n_planes × dim`` float literals per expression, which blows up
Catalyst analysis time and plan size at production widths like
4096×768 — see tests/test_plans.py for the plan-size assertion.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..spread import spread_input


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _pair_cosine_udf(dim: int | None = None):
    """(vec_a, vec_b) → struct(dot, na, nb) in one Arrow batch.

    The SQL fold form (``aggregate(zip_with(...))``, kept above as the
    expression contract and in the brute-force verifier) runs in Spark's
    interpreted higher-order evaluator at ~20 µs/pair — it dominates
    every candidate-verification wall. Here the same math is one NumPy
    pass. BIT-EXACT with the fold for array<double> inputs: ``cumsum``
    accumulates float64 left-to-right, exactly the fold's
    ((0+x₀y₀)+x₁y₁)+… order, so downstream round()/thresholds see
    identical doubles (pinned by tests/test_dedup_similarity.py). The
    operators cast their vector columns to array<double> at the
    boundary, so float32 inputs take ONE well-defined widening on both
    the UDF and any SQL mirror.

    ``dim``, when given, is the corpus-wide expected width: rows whose
    vectors differ from it are NULLed regardless of which Arrow batch
    they land in. Without it the width is inferred from the first
    non-null row of each batch (fine for clean single-width corpora,
    but batch-composition-dependent on mixed-width data — callers that
    know the width pass it)."""
    expected = dim

    @F.pandas_udf("struct<dot:double,na:double,nb:double>")
    def parts(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        if not len(a):
            return pd.DataFrame({"dot": [], "na": [], "nb": []}, dtype=float)
        av, bv = a.to_numpy(), b.to_numpy()
        # null or ragged vectors get a NULL result row (what the SQL
        # fold yields on a null array) instead of crashing the stage
        dim = expected if expected else next((len(v) for v in av if v is not None), 0)
        valid = np.fromiter(
            (
                u is not None and v is not None and len(u) == dim and len(v) == dim
                for u, v in zip(av, bv)
            ),
            dtype=bool,
            count=len(av),
        )
        if valid.all() and dim:
            x = np.vstack(av).astype(np.float64)
            y = np.vstack(bv).astype(np.float64)
            return pd.DataFrame(
                {
                    "dot": np.cumsum(x * y, axis=1)[:, -1],
                    "na": np.sqrt(np.cumsum(x * x, axis=1)[:, -1]),
                    "nb": np.sqrt(np.cumsum(y * y, axis=1)[:, -1]),
                }
            )
        out = pd.DataFrame(
            {
                "dot": pd.array([pd.NA] * len(av), dtype="Float64"),
                "na": pd.array([pd.NA] * len(av), dtype="Float64"),
                "nb": pd.array([pd.NA] * len(av), dtype="Float64"),
            }
        )
        if valid.any() and dim:
            x = np.vstack(av[valid]).astype(np.float64)
            y = np.vstack(bv[valid]).astype(np.float64)
            out.loc[valid, "dot"] = np.cumsum(x * y, axis=1)[:, -1]
            out.loc[valid, "na"] = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
            out.loc[valid, "nb"] = np.sqrt(np.cumsum(y * y, axis=1)[:, -1])
        return out

    # §4.4 non-deterministic mark: threshold/rank filters and join-key
    # isnotnull pushdown must not re-evaluate the cosine kernel below
    # an exchange (values are pure)
    return parts.asNondeterministic()


def _cosine6(a_col: str, b_col: str, dim: int | None = None):
    """round-6 cosine column from the vectorized pair parts."""
    p = _pair_cosine_udf(dim)(F.col(a_col), F.col(b_col))
    return F.round(p["dot"] / (p["na"] * p["nb"]), 6)


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-match excluded).

    Ties break on neighbor id ascending for determinism.
    Output: (query_id, neighbor_id, cosine, rank).

    ``dim`` is optional here (exact path, no bucketing); pass it on
    mixed-width or dirty corpora so ragged rows are NULLed corpus-wide
    instead of per-Arrow-batch.
    """
    # the corpus side streams through the broadcast join + cosine UDF in
    # ONE narrow chain: an under-split scan would run it one-wide
    corpus = spread_input(df).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    queries = query_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("__q")
    )
    scored = corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        _cosine6("__q", "__v", dim).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 17) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).astype(np.float64)


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks for multi-probe: all bit patterns of Hamming weight
    ≤ radius over ``n_planes`` bits, ordered by weight then bit index."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def _bucket_udf(df: DataFrame, tables: list[np.ndarray]):
    """Vectorized per-table sign-bucket ids: ONE pandas UDF whose Arrow
    batches each cost a single GEMM against the broadcast stacked
    ``(n_tables · n_planes, dim)`` hyperplane matrix. Returns a column
    function: embedding → array<int> of ``n_tables`` bucket ids."""
    stacked = np.ascontiguousarray(np.concatenate(tables, axis=0))  # (T*P, dim)
    n_tables = len(tables)
    n_planes = tables[0].shape[0]
    dim = stacked.shape[1]
    bc = df.sparkSession.sparkContext.broadcast(stacked)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def buckets(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        vv = v.to_numpy()
        # null / wrong-width vectors get a NULL bucket array so the row
        # drops at the posexplode/join instead of killing the stage
        # (mirrors _pair_cosine_udf's contract on dirty data)
        valid = np.fromiter(
            (u is not None and len(u) == dim for u in vv), dtype=bool, count=len(vv)
        )
        if valid.all():
            x = np.vstack(vv).astype(np.float64)
            proj = x @ bc.value.T  # (n, T*P)
            bits = (proj >= 0).reshape(len(x), n_tables, n_planes)
            ids = (bits * weights).sum(axis=2).astype(np.int32)
            return pd.Series(list(ids))
        out = np.full(len(vv), None, dtype=object)
        if valid.any():
            x = np.vstack(vv[valid]).astype(np.float64)
            proj = x @ bc.value.T
            bits = (proj >= 0).reshape(len(x), n_tables, n_planes)
            ids = (bits * weights).sum(axis=2).astype(np.int32)
            for i, row in zip(np.nonzero(valid)[0], ids):
                out[i] = row
        return pd.Series(out)

    # §4.4: joins on (table, bucket) push isnotnull below the explode
    # and would run the GEMM bucketing twice without this mark
    return buckets.asNondeterministic()


def lsh_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 12,
    dim: int | None = None,
    n_tables: int = 32,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate top-k: hyperplane-bucketed candidates, exact cosine
    re-rank inside buckets.

    Defaults are the swept high-recall config (P=12, T=32, r=2 —
    recall@5 = 1.0 on the sf0.1 bench corpus; see BENCH.md's
    recall/candidates curve from scripts/ann_recall_sweep.py). On a
    uniform random corpus that config scans ~40-50 % of the corpus —
    inherent to uniform data, not the operator; clustered (dedup-regime)
    corpora prune to <1 %. Lower ``probe_radius``/``n_tables`` to trade
    recall for candidate volume.

    Standard multi-table LSH: ``n_tables`` independent sets of
    ``n_planes`` hyperplanes; a corpus vector is a candidate if it shares
    a (table, bucket) with the query in ANY table, with multi-probe
    (Hamming ≤ ``probe_radius``) flips on the query side. One table with
    few planes either prunes nothing or misses most true neighbors;
    tables × probes multiply recall while candidate volume stays
    ~``n_tables · n_probes / 2^n_planes`` of the corpus (n_probes =
    Σ_{r≤radius} C(n_planes, r)). Tuning on the sf0.1 corpus:
    scripts/ann_recall_sweep.py writes the recall/candidates curve to
    BENCH.md — raise ``probe_radius`` (cheap, query-side only) before
    raising ``n_tables`` (re-hashes the corpus).

    ``dim`` (the embedding width) is required: inferring it would cost a
    driver-side action on the corpus before the plan is even built.
    """
    if dim is None:
        raise ValueError(
            "lsh_topk requires dim (embedding width); inferring it would "
            "trigger a driver-side scan of the corpus."
        )
    tables = [_hyperplanes(dim, n_planes, seed=17 + 31 * t) for t in range(n_tables)]
    df = spread_input(df)
    buckets = _bucket_udf(df, tables)

    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    probes = F.array(*[F.lit(int(m)) for m in _probe_masks(n_planes, probe_radius)])
    queries = query_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__q"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "base"),
    ).select(
        "query_id",
        "__q",
        "table",
        F.explode(F.transform(probes, lambda m: F.col("base").bitwiseXOR(m))).alias("bucket"),
    )
    scored = corpus.join(F.broadcast(queries), ["table", "bucket"]).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        _cosine6("__q", "__v", dim).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dupes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine ≥ threshold (id_a < id_b). Brute-force all-pairs
    VERIFIER — the test oracle for ``embedding_near_dupes_lsh``, which is
    the scale path. Keep this out of scheduled pipelines."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("__a"), F.col("__b")) / (_norm(F.col("__a")) * _norm(F.col("__b"))), 6).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dupes_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs at scale: hyperplane-banded candidates,
    exact cosine verification per candidate — the embedding-side mirror
    of MinHash-LSH → ngram verification. Shuffle volume is linear in
    |corpus| · n_tables; pair work is per-candidate, never all-pairs.

    Recall for cosine ≥ t over one table is ``(1 − θ/π)^n_planes`` with
    θ = arccos(t); tables multiply it (t=0.95, 8 planes, 8 tables →
    ~0.99). Degenerate hot buckets (near-constant corpora) are capped
    like MinHash-LSH: buckets larger than ``max_bucket_size`` are
    skipped, and genuinely similar pairs still surface via their other
    tables. Output matches ``embedding_near_dupes``.
    """
    if dim is None:
        raise ValueError("embedding_near_dupes_lsh requires dim (embedding width).")
    tables = [_hyperplanes(dim, n_planes, seed=17 + 31 * t) for t in range(n_tables)]
    # no spread here: the heavy work (window + collect_list + pair
    # verification) runs AFTER the (table, bucket) exchange, which
    # already distributes it; an input repartition would only add an
    # exchange of the payload vectors (measured: a net loss)
    buckets = _bucket_udf(df, tables)

    # ONE corpus scan: the vector rides through the bucket as banding
    # payload (like simhash's signature), and pair expansion + cosine
    # verification FUSE into the same Arrow stage — the kernel has each
    # bucket's vectors in hand, so emitting (id_a, id_b, raw_cosine)
    # avoids Arrow-serializing two payload vectors per candidate (the
    # r3 plan re-scanned the corpus once per pair side; the interim
    # payload-through-bucket form still shuttled ~1 KB per candidate).
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).select("id", "__v", F.posexplode(buckets(F.col("__v"))).alias("table", "bucket"))
    # Size-filter BEFORE the payload collect_list: a window count over
    # (table, bucket) drops hot-bucket rows while they are still
    # individual rows (WindowExec spills to disk), so no aggregation
    # buffer ever materializes member_count × dim × 8 bytes for a
    # bucket that the size cap would discard anyway. The window's
    # exchange hash-partitions on exactly the groupBy keys, so the
    # collect_list below reuses it — still ONE shuffle total.
    wsize = Window.partitionBy("table", "bucket")
    banded = banded.withColumn("__bsize", F.count(F.lit(1)).over(wsize)).where(
        (F.col("__bsize") >= 2) & (F.col("__bsize") <= max_bucket_size)
    )
    members = banded.groupBy("table", "bucket").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("id").alias("i"), F.col("__v").alias("p")))
        ).alias("ids")
    )

    def _pairs_with_cosine(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ids in pdf["ids"]:
                arr = np.asarray([m["i"] for m in ids])
                V = np.vstack([np.asarray(m["p"], dtype=np.float64) for m in ids])
                i, j = np.triu_indices(len(arr), k=1)
                keep = arr[i] != arr[j]  # duplicate id VALUES in one bucket
                i, j = i[keep], j[keep]
                if not len(i):
                    continue
                x, y = V[i], V[j]
                # cumsum reproduces the SQL fold's left-to-right float64
                # order BIT-exactly (see _pair_cosine_udf); the division
                # order dot/(na*nb) matches too. round() stays JVM-side
                # below so the rounding mode is Spark's own.
                dot = np.cumsum(x * y, axis=1)[:, -1]
                na = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
                nb = np.sqrt(np.cumsum(y * y, axis=1)[:, -1])
                out_a.append(arr[i])
                out_b.append(arr[j])
                out_c.append(dot / (na * nb))
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "__raw": np.concatenate(out_c),
                    }
                )

    id_type = df.schema[id_col].dataType.simpleString()
    cand = members.select("ids").mapInPandas(
        _pairs_with_cosine, schema=f"id_a {id_type}, id_b {id_type}, __raw double"
    )
    # a pair surfaces once per shared table: dedupe the SMALL
    # post-threshold set instead of every candidate with its payloads
    return (
        cand.select("id_a", "id_b", F.round("__raw", 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_clusters: int,
    dim: int,
    sample_size: int = 4096,
    n_iter: int = 10,
    seed: int = 29,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a seeded, bounded sample.

    The sample collect is O(sample_size × dim) — bounded regardless of
    corpus size, the standard IVF training recipe. Deterministic: seeded
    sample, seeded init, fixed Lloyd iterations on L2-normalized vectors
    (so nearest-centroid == highest cosine). Returns (k, dim) float64.
    """
    # seeded hash order + limit plans as TakeOrderedAndProject: one scan
    # with per-partition size-k heaps, no global sort, no full collect
    sample = (
        df.select(F.col(vec_col).alias("__v"))
        # dirty rows (null / wrong-width vectors) are excluded from
        # training just as the bucket/centroid UDFs NULL them out
        .where(F.col("__v").isNotNull() & (F.size("__v") == dim))
        # secondary sort on the vector string makes the order TOTAL for
        # distinct values, so the sampled multiset is scan-order-proof;
        # byte-identical vectors tying at the cut contribute identical
        # values either way. The string is PROJECTED once: as an inline
        # sort-key expression, TakeOrderedAndProject re-evaluates it per
        # heap comparison (measured 6× the whole collect on dim-64
        # vectors); the sampled rows are identical either way.
        .select("__v", F.col("__v").cast("string").alias("__s"))
        .orderBy(F.xxhash64("__s", F.lit(seed)), "__s")
        .limit(sample_size)
        .select("__v")
        .collect()
    )
    x = np.asarray([r["__v"] for r in sample], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    centroids = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(n_iter):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    return centroids


def _nearest_clusters_udf(df: DataFrame, centroids: np.ndarray, top: int):
    """Vectorized ``top`` nearest centroid ids per vector: one GEMM per
    Arrow batch against the broadcast (k, dim) centroid matrix.

    Order matches the round-2 literal expression exactly: descending
    cosine, ties broken by the LARGER centroid id first (the reversed
    lexicographic array_sort of (similarity, id) structs)."""
    cents = np.ascontiguousarray(centroids.astype(np.float64))
    dim = cents.shape[1]
    bc = df.sparkSession.sparkContext.broadcast(cents)

    def _rank(x: np.ndarray) -> list:
        norms = np.maximum(np.sqrt((x * x).sum(axis=1, keepdims=True)), 1e-300)
        sims = (x @ bc.value.T) / norms  # (n, k)
        k = sims.shape[1]
        # stable argsort over the column-reversed matrix: descending
        # similarity with ties taking the LARGER id, fully vectorized
        order_rev = np.argsort(-sims[:, ::-1], axis=1, kind="stable")[:, : min(top, k)]
        return list((k - 1 - order_rev).astype(np.int32))

    @F.pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        vv = v.to_numpy()
        # null / wrong-width vectors → NULL cluster list; the row drops
        # at element_at/explode+join instead of crashing the stage
        valid = np.fromiter(
            (u is not None and len(u) == dim for u in vv), dtype=bool, count=len(vv)
        )
        if valid.all():
            return pd.Series(_rank(np.vstack(vv).astype(np.float64)))
        out = np.full(len(vv), None, dtype=object)
        if valid.any():
            for i, row in zip(np.nonzero(valid)[0], _rank(np.vstack(vv[valid]).astype(np.float64))):
                out[i] = row
        return pd.Series(out)

    # §4.4: the cluster equi-join's isnotnull pushdown would duplicate
    # the centroid GEMM below the join without this mark
    return nearest.asNondeterministic()


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 32,
    nprobe: int = 24,
    dim: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-listed under
    their nearest coarse centroid; each query probes its ``nprobe``
    nearest lists and exact cosine re-ranks the candidates.

    Candidate volume ≈ ``nprobe / n_clusters`` of the corpus. Pass
    pre-trained ``centroids`` to skip training (e.g. reuse across
    batches); otherwise a bounded seeded sample trains them.

    Defaults are the swept config (C=32, nprobe=24 — recall@5 ≈ 0.955
    on the sf0.1 bench corpus, curve in BENCH.md). 24/32 lists probed
    is the honest price of high recall on a *uniform* corpus; clustered
    corpora get the same recall at far lower nprobe.
    """
    if dim is None:
        raise ValueError("ivf_topk requires dim (embedding width).")
    df = spread_input(df)
    if centroids is None:
        centroids = train_ivf_centroids(df, vec_col, n_clusters, dim)
    nearest1 = _nearest_clusters_udf(df, centroids, 1)
    nearest_probe = _nearest_clusters_udf(df, centroids, nprobe)

    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.element_at(nearest1(F.col(vec_col)), 1).alias("cluster"),
    )
    queries = query_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__q"),
        F.explode(nearest_probe(F.col(vec_col))).alias("cluster"),
    )
    scored = (
        corpus.join(F.broadcast(queries), "cluster")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine6("__q", "__v", dim).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
