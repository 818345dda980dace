"""Dedup + similarity operators: planted duplicates must be found."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datafiller_spark.operators import (
    cosine_topk,
    embedding_near_dupes,
    exact_duplicates,
    lsh_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_duplicates,
)
from datafiller_spark.operators.dedup import _shingle_list
from datafiller_spark.sources import load_table


@pytest.fixture(scope="module")
def docs_with_dupes(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The quick  brown fox jumps over the lazy dog"),  # normalized dup of 1
        (4, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (5, "completely different text about spark and rollups here"),
        (6, "short text"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs_with_dupes):
    out = exact_duplicates(docs_with_dupes, "doc_id", "text").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 2, 3]
    assert all(r.canonical_id == 1 and r.group_size == 3 for r in out)


def test_exact_duplicates_null_text_emits_no_null_group(spark):
    """NULL text → NULL fingerprint. The SQL contract form (fps JOIN
    groups USING (fp)) drops NULL keys — they never join — so the
    window-form implementation must filter them too, not emit all NULL
    documents as one spurious 'duplicate group'."""
    rows = [
        (1, "same text"),
        (2, "same text"),
        (3, None),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = exact_duplicates(docs, "doc_id", "text").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 2], f"NULL-text docs must not form a group: {out}"
    assert all(r.fp is not None for r in out)


def test_ngram_jaccard_finds_near_dup(docs_with_dupes):
    pairs = ngram_jaccard_pairs(docs_with_dupes, "doc_id", "text", n=3, threshold=0.4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got  # identical → jaccard 1.0
    assert (1, 4) in got  # near dup above 0.4
    assert not any(5 in p or 6 in p or 7 in p for p in got)


def test_minhash_lsh_catches_exact_pairs(docs_with_dupes):
    pairs = minhash_lsh_pairs(
        docs_with_dupes, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.4
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (1, 3) in got  # identical shingle sets always collide
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs_with_dupes, "doc_id", "text", 3, 0.4).collect()
    }
    assert got <= exact  # LSH never invents pairs the verifier rejects


def test_ngram_jaccard_posting_cap_is_conservative(spark):
    """With a posting-list cap, pairs are a SUBSET of the exact output
    (jaccard can only shrink), and a boilerplate shingle shared by
    everyone stops generating quadratic pairs."""
    boiler = "lorem ipsum dolor"  # 3-gram shared by every doc
    rows = [(i, f"{boiler} unique tail {i} {i + 1} {i + 2}") for i in range(30)]
    rows += [
        (100, "a very distinctive document about tier rollups here"),
        (101, "a very distinctive document about tier rollups there"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.3, max_posting_len=10).collect()
    }
    assert set(capped) <= set(exact)
    assert all(capped[p] <= exact[p] for p in capped)
    assert (100, 101) in capped  # distinctive pair survives the cap


def _jaccard_reference(rows, n, threshold, cap):
    """Brute-force exact n-gram Jaccard: set algebra over ``_shingle_list``
    per pair of documents, grams shared by more than ``cap`` documents
    left out of the intersection, and Spark's HALF_UP round(…, 6)."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal
    from itertools import combinations

    grams = {i: set(_shingle_list(t, n)) for i, t in rows if i is not None}
    posting_len = Counter(g for s in grams.values() for g in s)
    out = {}
    for a, b in combinations(sorted(grams), 2):
        inter = sum(1 for g in grams[a] & grams[b] if cap is None or posting_len[g] <= cap)
        if not inter:
            continue
        union = len(grams[a]) + len(grams[b]) - inter
        jaccard = float(Decimal(repr(inter / union)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        if jaccard >= threshold:
            out[(a, b)] = (inter, union, jaccard)
    return out


def test_ngram_jaccard_matches_brute_force_reference(spark, monkeypatch):
    """Every pair, intersection, union and rounded Jaccard equals the
    brute-force reference exactly — with and without a binding posting
    cap, for bigint, int and string ids (string ids order as text, so
    "10" < "9") — and stays so whatever the shuffle width, with a posting
    list spread over many 7-row Arrow batches (the sorted-run carry), and
    with pair blocks of 10 (many blocks; single entries whose tail alone
    exceeds a block). NULL, empty and shorter-than-n texts have no
    grams; a NULL id is never paired."""
    from datafiller_spark.operators import dedup

    boiler = "lorem ipsum dolor"  # every non-empty doc shares these grams
    texts = [(i, f"{boiler} tail {i % 4} x{i % 7} y{i % 5}") for i in range(36)]
    texts += [
        (100, "a very distinctive document about tier rollups here"),
        (101, "a very distinctive document about tier rollups there " + boiler),
        (102, boiler + " " + " ".join(f"w{k}" for k in range(60))),  # size bound rejects
        (103, None),
        (104, ""),
        (105, "too short"),
        (None, f"{boiler} tail 1 x1 y1"),  # NULL id: never paired
    ]
    threshold, n = 0.1, 3
    refs = {cap: _jaccard_reference(texts, n, threshold, cap) for cap in (None, 10)}
    assert refs[10] and refs[None] and refs[10] != refs[None]

    def pairs(df, cap, cast):
        return {
            (cast(r.id_a), cast(r.id_b)): (r.inter, r.union_size, r.jaccard)
            for r in ngram_jaccard_pairs(df, n=n, threshold=threshold, max_posting_len=cap).collect()
        }

    frames = [
        (spark.createDataFrame(texts, "doc_id bigint, text string"), int),
        (spark.createDataFrame(texts, "doc_id int, text string"), int),
        (
            spark.createDataFrame(
                [(None if i is None else str(i), t) for i, t in texts], "doc_id string, text string"
            ),
            str,
        ),
    ]

    def check_all():
        for df, cast in frames:
            for cap, ref in refs.items():
                want = ref if cast is int else {
                    tuple(sorted(map(str, p))): v for p, v in ref.items()
                }
                assert pairs(df, cap, cast) == want, (df.schema["doc_id"].dataType, cap)

    check_all()
    for conf, value in (
        ("spark.sql.shuffle.partitions", "1"),
        ("spark.sql.shuffle.partitions", "16"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "7"),
    ):
        prior = spark.conf.get(conf)
        try:
            spark.conf.set(conf, value)
            check_all()
        finally:
            spark.conf.set(conf, prior)
    monkeypatch.setattr(dedup, "_PAIR_BLOCK", 10)
    check_all()


def test_ngram_default_posting_cap_is_exact():
    """Library default is EXACT Jaccard (no silent approximation for
    existing callers — round-5 advice); production/entry queries opt
    into the finite cap explicitly, mirrored in their DuckDB oracle."""
    import inspect

    sig = inspect.signature(ngram_jaccard_pairs)
    assert sig.parameters["max_posting_len"].default is None


def test_simhash_groups_identical_token_arrays(spark):
    rows = [
        ("a", [1, 2, 3, 4, 5, 6, 7, 8]),
        ("b", [1, 2, 3, 4, 5, 6, 7, 8]),
        ("c", [100, 200, 300, 999, 5, 17, 23, 42]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    out = simhash_duplicates(df, "doc_id", "tokens").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == ["a", "b"]


def test_cosine_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # anti-parallel to 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk(df, df.where("vec_id = 0"), "vec_id", "embedding", k=3).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert [r.neighbor_id for r in ranked] == [1, 2, 3]
    assert ranked[0].cosine == pytest.approx(0.9 / np.sqrt(0.82), abs=1e-6)


def test_lsh_topk_recall_on_planted_clusters(spark):
    """Hyperplane LSH recall is only meaningful when neighbors are actually
    close (near-orthogonal random vectors collide at chance level); plant
    tight clusters and require the true neighbors to surface."""
    rng = np.random.default_rng(5)
    rows = []
    vid = 0
    for c in range(10):
        center = rng.normal(size=16)
        for _ in range(8):
            rows.append((vid, (center + 0.05 * rng.normal(size=16)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") % 8 == 0)  # one per cluster
    exact = cosine_topk(df, queries, k=3).collect()
    approx = lsh_topk(df, queries, k=3, n_planes=6, dim=16).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9  # cluster members share the bucket


def test_lsh_topk_runs_on_real_embeddings(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5)
    approx = lsh_topk(emb, queries, k=3, n_planes=6, dim=64).collect()
    assert len(approx) > 0
    assert all(r.query_id != r.neighbor_id for r in approx)


def test_embedding_near_dupes(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.01]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_near_dupes(df, threshold=0.99).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(0, 1)}


def test_minhash_hot_bucket_cap(spark):
    """A degenerate boilerplate group larger than max_bucket_size must not
    explode the band self-join quadratically: its buckets are skipped,
    while distinct near-dup pairs outside the hot group survive."""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit") for i in range(100)]
    distinct_pair = [
        (1000, "a genuinely unique document about spark tier rollups and gap fill"),
        (1001, "a genuinely unique document about spark tier rollups and gap filling"),
    ]
    df = spark.createDataFrame(boiler + distinct_pair, ["doc_id", "text"])

    capped = minhash_lsh_pairs(
        df, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.4,
        max_bucket_size=50,
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert (1000, 1001) in got  # pair outside the hot bucket survives
    assert not any(a < 100 and b < 100 for a, b in got)  # hot group skipped

    # with a cap above the group size, the boilerplate pairs come back
    uncapped = minhash_lsh_pairs(
        df, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.4,
        max_bucket_size=10_000,
    )
    assert uncapped.where((F.col("id_a") < 100) & (F.col("id_b") < 100)).count() == 100 * 99 / 2


def test_simhash_near_dupes_hamming(spark):
    """Pigeonhole banding finds pairs within max_hamming bits and the
    bit_count verifier rejects everything farther."""
    from datafiller_spark.operators import simhash_near_dupes

    base = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]
    rows = [
        ("a", base),
        ("b", base),                      # identical → hamming 0
        ("c", base[:-1] + [9999]),        # one token swapped → small hamming
        ("d", [100 + i * 37 for i in range(12)]),  # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dupes(df, max_hamming=16).collect()}
    assert out[("a", "b")] == 0
    assert ("a", "c") in out and 0 < out[("a", "c")] <= 16
    assert not any("d" in p for p in out)
    # tight threshold drops the swapped-token pair if it exceeds it
    tight = {(r.id_a, r.id_b): r.hamming
             for r in simhash_near_dupes(df, max_hamming=1).collect()}
    assert tight.get(("a", "b")) == 0
    assert all(h <= 1 for h in tight.values())


def test_bucket_udf_matches_literal_expr(spark, sf_dir):
    """The vectorized GEMM bucketer must produce the same sign buckets
    as the round-2 literal-expression form (outputs-unchanged guard for
    the de-literaled ANN path)."""
    from datafiller_spark.operators.similarity import (
        _bucket_expr,
        _bucket_udf,
        _hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    tables = [_hyperplanes(64, 8, seed=17 + 31 * t) for t in range(4)]
    buckets = _bucket_udf(emb, tables)
    via_udf = emb.select(
        "vec_id", *[F.element_at(buckets(F.col("embedding")), t + 1).alias(f"b{t}")
                    for t in range(4)]
    )
    via_lit = emb.select(
        "vec_id", *[_bucket_expr(F.col("embedding"), tables[t]).alias(f"b{t}")
                    for t in range(4)]
    )
    a = sorted(map(tuple, via_udf.collect()))
    b = sorted(map(tuple, via_lit.collect()))
    assert a == b


def test_embedding_near_dupes_lsh_recall_sf01(spark):
    """The bucketed scale path must recover ≥0.95 of the exact
    threshold pairs on the sf0.1 embeddings augmented with planted
    perturbed near-duplicates (the natural sf0.1 max cosine is ~0.55,
    so the planted pairs ARE the threshold-0.9 truth set), and never
    emit a pair the exact verifier rejects."""
    from datafiller_spark.operators import embedding_near_dupes_lsh

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    base = emb.limit(400).collect()
    rng = np.random.default_rng(23)
    planted = []
    for r in base[:120]:
        v = np.asarray(r.embedding)
        noise = rng.normal(size=v.shape) * 0.12 * np.linalg.norm(v) / np.sqrt(len(v))
        planted.append((int(r.vec_id) + 100000, (v + noise).tolist()))
    corpus = emb.unionByName(spark.createDataFrame(planted, ["vec_id", "embedding"]))

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes(corpus, threshold=0.9).collect()
    }
    assert len(exact) >= 100  # the planted perturbations survive the threshold
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes_lsh(
            corpus, threshold=0.9, dim=64, n_planes=8, n_tables=8
        ).collect()
    }
    assert got <= exact  # verification never invents pairs
    assert len(got & exact) / len(exact) >= 0.95


def test_ivf_topk_recall_and_determinism(spark):
    """IVF with clustered vectors: high recall vs exact, deterministic
    across runs, and requires dim."""
    from datafiller_spark.operators import cosine_topk, ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 16)) * 4
    rows = []
    for i in range(300):
        c = i % 6
        rows.append((i, (centers[c] + rng.normal(size=16) * 0.3).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") < 8)

    exact = {}
    for r in cosine_topk(df, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    out1 = ivf_topk(df, queries, k=5, n_clusters=8, nprobe=2, dim=16).collect()
    for r in out1:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact) / len(exact)
    assert recall >= 0.9

    out2 = ivf_topk(df, queries, k=5, n_clusters=8, nprobe=2, dim=16).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    with pytest.raises(ValueError):
        ivf_topk(df, queries, k=5)


def test_signature_udf_matches_sql_expression_form(spark, sf_dir):
    """The vectorized MinHash signature (hashlib md5 + NumPy affine
    mins) must equal the pure-SQL expression form — which is the
    cross-engine oracle contract DuckDB re-computes."""
    from pyspark.sql import functions as F

    from datafiller_spark.operators.dedup import (
        _MERSENNE,
        _gram_hash,
        _minhash_params,
        _shingled_signatures,
        _shingles,
    )
    from datafiller_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    fast = {r.id: list(r.signature) for r in
            _shingled_signatures(docs, "doc_id", "text", 3, 32).collect()}

    params = _minhash_params(32)
    shingled = docs.select(
        F.col("doc_id").alias("id"), _shingles("text", 3).alias("grams")
    ).where(F.size("grams") > 0)
    hashed = shingled.withColumn("__hs", F.transform("grams", _gram_hash))
    sig = F.array(
        *[
            F.array_min(F.transform("__hs", lambda h: (h * a + b) % _MERSENNE))
            for (a, b) in params
        ]
    )
    slow = {r.id: list(r.signature) for r in hashed.select("id", sig.alias("signature")).collect()}
    assert fast == slow and len(fast) > 0


def test_cosine_topk_null_vector_does_not_crash(spark):
    """A null embedding row yields null cosine rows (dropped by
    ranking/threshold), matching the SQL fold — never a stage crash."""
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = cosine_topk(emb, emb.where("vec_id = 0"), "vec_id", "embedding", k=2).collect()
    ids = {r.neighbor_id for r in out}
    assert 2 not in ids and len(out) == 2


def test_banded_pairs_duplicate_id_values_emit_no_self_pairs(spark):
    from datafiller_spark.operators.banding import banded_pairs
    from pyspark.sql import functions as F

    rows = [("d1", 0, 7), ("d1", 0, 7), ("d2", 0, 7)]  # duplicate id in one bucket
    banded = spark.createDataFrame(rows, "id string, band int, val int")
    pairs = banded_pairs(banded, ["band", "val"], "id", "string", 100).collect()
    assert all(r.id_a != r.id_b for r in pairs)
    assert {(r.id_a, r.id_b) for r in pairs} == {("d1", "d2")}


def test_shingles_udf_matches_sql_expression_form(spark, sf_dir):
    """The vectorized shingler must equal the SQL expression form (the
    oracle contract) document-for-document, order included."""
    from datafiller_spark.operators.dedup import _shingles, _shingles_expr
    from datafiller_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(400)
    extra = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "one two"), (900004, "  a  b\tc  a b c ")],
        "doc_id long, text string",
    )
    docs = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text").unionByName(extra)
    fast = {r.doc_id: list(r.g) for r in docs.select("doc_id", _shingles("text", 3).alias("g")).collect()}
    slow = {r.doc_id: list(r.g) for r in docs.select("doc_id", _shingles_expr("text", 3).alias("g")).collect()}
    assert fast == slow and len(fast) > 0


def test_dirty_embeddings_do_not_crash_bucketed_paths(spark):
    """Null and wrong-width embedding rows must drop out of every
    bucketed/ANN path (NULL bucket/cluster arrays), never crash the
    stage — and clean rows must still pair up (ADVICE r3 medium)."""
    from datafiller_spark.operators import embedding_near_dupes_lsh, ivf_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 0
        (2, None),                   # null vector
        (3, [0.5, 0.5]),             # ragged (wrong width)
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    lsh = lsh_topk(emb, emb.where("vec_id = 0"), "vec_id", "embedding", k=2, dim=4).collect()
    assert {r.neighbor_id for r in lsh} and all(r.neighbor_id not in (2, 3) for r in lsh)
    assert any(r.neighbor_id == 1 for r in lsh)

    nd = embedding_near_dupes_lsh(
        emb, "vec_id", "embedding", threshold=0.95, dim=4
    ).collect()
    assert {(r.id_a, r.id_b) for r in nd} == {(0, 1)}

    ivf = ivf_topk(
        emb.where("embedding is not null and size(embedding) = 4"),
        emb.where("vec_id = 0"),
        "vec_id",
        "embedding",
        k=2,
        n_clusters=2,
        nprobe=2,
        dim=4,
    )
    # dirty corpus through the centroid UDFs as well
    ivf_dirty = ivf_topk(
        emb, emb.where("vec_id = 0"), "vec_id", "embedding", k=2, n_clusters=2, nprobe=2, dim=4
    ).collect()
    assert all(r.neighbor_id not in (2, 3) for r in ivf_dirty)
    assert any(r.neighbor_id == 1 for r in ivf_dirty)
    assert ivf.count() > 0


def test_minhash_lazy_mode_matches_eager(spark, docs_with_dupes):
    """materialize=False returns the same verified pairs as the eager
    default, with no hidden persisted state."""
    # lazy FIRST: a later eager call caches an identical logical plan,
    # which Spark's cache manager would then report on this frame too
    lazy_df = minhash_lsh_pairs(
        docs_with_dupes, "doc_id", "text", threshold=0.2, materialize=False
    )
    assert not lazy_df.storageLevel.useMemory  # genuinely lazy, uncached
    lazy = {(r.id_a, r.id_b, r.jaccard) for r in lazy_df.collect()}
    eager = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs_with_dupes, "doc_id", "text", threshold=0.2).collect()
    }
    assert lazy == eager and eager


def test_simhash_vectorized_matches_per_doc_reference():
    """The batch-vectorized SimHash kernel must be value-identical to
    the straightforward per-document formulation (same splitmix64
    constants, same majority vote) — including empty/None docs and
    single-token docs."""
    import numpy as np
    import pandas as pd

    from datafiller_spark.operators.dedup import _simhash64

    def per_doc(tokens):
        out = np.zeros(len(tokens), dtype=np.int64)
        for i, arr in enumerate(tokens):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            h ^= h >> np.uint64(30)
            h *= np.uint64(0xBF58476D1CE4E5B9)
            h ^= h >> np.uint64(27)
            h *= np.uint64(0x94D049BB133111EB)
            h ^= h >> np.uint64(31)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
                np.int64
            )
            votes = (2 * bits - 1).sum(axis=0)
            sim = np.uint64(0)
            for b in np.flatnonzero(votes > 0):
                sim |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sim.astype(np.int64))
        return out

    rng = np.random.default_rng(11)
    arrs = [rng.integers(0, 60000, size=n).astype(np.int64) for n in (1, 2, 3, 17, 250, 999)]
    arrs += [None, np.array([], dtype=np.int64), np.array([0], dtype=np.int64)]
    s = pd.Series(arrs, dtype=object)
    got = _simhash64.func(s).to_numpy()
    assert np.array_equal(got, per_doc(s))
