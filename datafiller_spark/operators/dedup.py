"""Deduplication operators for web-scale training corpora.

Four tiers, cheap to expensive — all shuffle-on-key designs that scale
by adding executors (no driver-side state, no pairwise all-to-all except
within candidate buckets):

- exact:   hash-groupBy on a normalized-content fingerprint. One shuffle.
- n-gram Jaccard: word-shingle explode → shuffle by shingle → per-task
  pair counts over each sorted posting list → one sum per pair. Exact
  but quadratic within a shingle's posting list; at 100 TB this is the
  *verifier*, run only inside candidate buckets produced by MinHash-LSH.
- MinHash + LSH: k min-hashes per doc from shingle md5-low-32 hashes
  (affine hash family mod a Mersenne prime), banded into b buckets;
  only same-band collisions are verified. Linear shuffle volume; the
  scale path. Every hash (gram → int, band → bucket) is md5-based so
  the ENTIRE pipeline — signatures, banding, candidate generation,
  verification — has an exact cross-engine SQL mirror and runs under
  the DuckDB value oracle, not just a rows-only check.
- SimHash: 64-bit sign-aggregated token hash via a vectorized pandas
  UDF; near-dups = identical simhash (or small Hamming distance via
  band rotation).

Embedding near-dup lives in similarity.py (cosine threshold).
"""

from __future__ import annotations

import re
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..spread import spread_input
from ._series import _sorted_runs
from .banding import banded_pairs

_MERSENNE = (1 << 31) - 1

# _simhash64 views uint64 hashes as bytes (unpackbits) and packs the
# majority bits back through a little-endian byte view; a big-endian
# host would compute silently different signatures. Fail loudly at
# import (executors re-import this module, so the guard runs there too).
if sys.byteorder != "little":  # pragma: no cover - no big-endian CI host
    raise ImportError(
        "datafiller_spark.operators.dedup requires a little-endian host: "
        "SimHash packs/unpacks signature bits through native byte views."
    )

# pairs per block of the n-gram pair count: each int64 array over one
# block is 8 MB and the count holds a few at once, so a task's memory
# does not grow with the square of a posting list's length
_PAIR_BLOCK = 1 << 20


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of identical (whitespace/case-normalized) documents.

    Returns one row per duplicated document: (fp, group_size, doc_id,
    canonical_id) where canonical_id is the smallest member id.
    """
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    # NULL text → NULL fp. The SQL contract form joins fps back to the
    # per-fp groups, and a NULL key never joins — but a window PARTITION
    # BY groups NULLs together and would emit all NULL documents as one
    # spurious duplicate group. fp is NULL iff text is NULL (md5 of a
    # non-null string is never null; trim/lower/regexp preserve
    # non-nullness), so drop NULL TEXT before hashing: the predicate
    # pushes to the parquet scan, whereas a post-hoc isnotnull(fp) gets
    # rewritten to isnotnull(md5(...)) below the respread exchange and
    # evaluates the whole regexp+md5 twice, once at scan width.
    fps = spread_input(
        df.select(id_col, text_col).where(F.col(text_col).isNotNull())
    ).select(F.col(id_col), F.md5(normalized).alias("fp"))
    # group stats via a window over fp instead of agg + join-back: ONE
    # exchange and ONE pass over the normalized text (the join form
    # re-ran the scan+regexp+md5 on both sides) — identical rows out
    w = Window.partitionBy("fp")
    return (
        fps.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .where(F.col("group_size") > 1)
        .select("fp", "group_size", F.col(id_col), "canonical_id")
    )


def _shingles_expr(text_col: str, n: int):
    """Distinct word n-grams per document (space-joined) as a pure SQL
    expression — the cross-engine CONTRACT the DuckDB oracles mirror.
    Documents with fewer than ``n`` words yield an empty array
    (sequence() would count downward on a negative span otherwise).
    The hot path computes the same values in ``_shingles`` (pinned
    equal by tests/test_dedup_similarity.py): this form's per-element
    ``transform`` lambdas run in Spark's interpreted evaluator and cost
    ~2.8 s per 5000-doc scan."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    return F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]) and Spark's trim()
# strips only 0x20 — replicate BOTH exactly or unicode whitespace
# splits differently than the SQL contract form
_WS_ASCII = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingle_list(t: str | None, n: int) -> list[str]:
    """Distinct word n-grams of one document, first-occurrence order —
    the Python twin of ``_shingles_expr`` (pinned equal by tests) and
    the body of the ``_shingles`` UDF."""
    if t is None:
        # size(null) fails the >= n condition in the SQL form,
        # which then yields the empty array
        return []
    words = _WS_ASCII.split(t.strip(" ").lower())
    if len(words) < n:
        return []
    grams = (" ".join(words[i : i + n]) for i in range(len(words) - n + 1))
    return list(dict.fromkeys(grams))


def _shingles(text_col: str, n: int):
    """Distinct word n-grams in ONE Arrow stage — value-identical to
    ``_shingles_expr`` (first-occurrence order preserved, like
    ``array_distinct``)."""

    @F.pandas_udf("array<string>")
    def shingle(texts: pd.Series) -> pd.Series:
        return pd.Series([_shingle_list(t, n) for t in texts])

    # non-deterministic mark (optimization guide §4.4): without it the
    # optimizer pushes filters on the output column (size(grams) > 0,
    # join-key isnotnull) BELOW this UDF's projection and evaluates the
    # whole shingler twice — once below the respread exchange at scan
    # width. Values are pure; the mark only forbids duplication.
    return shingle.asNondeterministic()(F.col(text_col))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_posting_len: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over word n-gram shingle sets.

    Output: (id_a, id_b, inter, union_size, jaccard) with id_a < id_b in
    Spark's ordering of the id column (any orderable id type).

    Quadratic in posting-list density — this is the VERIFIER; the scale
    path is ``minhash_lsh_pairs``. ``max_posting_len`` caps the pair
    work: shingles shared by more than that many documents are dropped
    before pairing (a boilerplate shingle carries almost no Jaccard
    signal, but its posting list alone costs O(len²) pairs — at a cap
    of 10 000 that is ≤ 5·10⁷ pairs per shingle; with no cap a shingle
    shared by 10⁵ docs is ~5·10⁹ pairs of pure work). With a cap the
    counts are a lower bound on the true intersection, so reported
    jaccard values can only shrink — pairs never appear that the exact
    form would reject. The DEFAULT is ``None`` (fully exact Jaccard —
    library callers get textbook semantics unless they opt into the
    approximation); production pipelines over open-web corpora should
    pass a finite cap (the entry queries use 10 000, mirrored in their
    DuckDB oracle).

    One lazy plan: shingle once, explode to (id, n_grams, gram) rows,
    shuffle by gram onto the sorted-run runner (``_series._sorted_runs``)
    so each task sees whole, id-sorted posting lists, and count pairs
    there with one vectorized NumPy pass per block of ≤ ``_PAIR_BLOCK``
    pairs: each entry's tail (the later ids of its posting list) is
    expanded with ``repeat``/``arange``, every pair becomes one int64 key
    and ``np.unique(return_counts=True)`` is the per-task shared-gram
    count. Task memory is one Arrow batch plus one posting list plus one
    block, whatever the cap. Pairs failing the exact size bound
    ``min(na, nb) ≥ (threshold − 1e-6)·max(na, nb)`` are dropped there
    (Jaccard ≤ min/max, and round6 moves a value by ≤ 5e-7); the partial
    counts are summed in one JVM aggregation. Jaccard's round(…, 6) and
    the threshold filter stay JVM-side: Spark's HALF_UP round is the
    cross-engine contract (numpy rounds half-to-even).
    """
    # a NULL id has no place in the id order the pairs are oriented by
    docs = spread_input(df.select(id_col, text_col).where(F.col(id_col).isNotNull()))
    id_type = df.schema[id_col].dataType.simpleString()
    posting = docs.select(
        F.col(id_col).alias("id"), _shingles(text_col, n).alias("grams")
    ).select("id", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram"))
    block = _PAIR_BLOCK
    loose = threshold - 1e-6

    def count_pairs(pdf: pd.DataFrame, starts: np.ndarray):
        # one gram per run, ids ascending within it (the JVM sort), so
        # each pair is counted from its earlier entry, oriented a < b
        lens = np.diff(starts, append=len(pdf))
        keep = lens >= 2
        if max_posting_len is not None:
            keep &= lens <= max_posting_len
        pos = np.arange(len(pdf)) - np.repeat(starts, lens)
        tails = np.where(np.repeat(keep, lens), np.repeat(lens, lens) - 1 - pos, 0)
        entries = np.flatnonzero(tails)
        tails = tails[entries]
        sizes = pdf["n_grams"].to_numpy()
        codes, uniq = pd.factorize(pdf["id"].to_numpy())
        n_of = np.empty(len(uniq), dtype=sizes.dtype)
        n_of[codes] = sizes
        ends = np.cumsum(tails)
        lo = 0
        while lo < len(entries):
            # entries [lo, hi) hold ≤ block pairs (one entry if its tail alone is longer)
            hi = max(int(np.searchsorted(ends, ends[lo] - tails[lo] + block, "right")), lo + 1)
            t = tails[lo:hi]
            a = np.repeat(entries[lo:hi], t)
            b = a + 1 + np.arange(len(a)) - np.repeat(np.cumsum(t) - t, t)
            sa, sb = sizes[a], sizes[b]
            ok = np.minimum(sa, sb) >= loose * np.maximum(sa, sb)
            key, inter = np.unique(codes[a[ok]] * len(uniq) + codes[b[ok]], return_counts=True)
            if len(key):
                ca, cb = np.divmod(key, len(uniq))
                yield pd.DataFrame(
                    {"id_a": uniq[ca], "id_b": uniq[cb], "inter": inter, "na": n_of[ca], "nb": n_of[cb]}
                )
            lo = hi

    partial = _sorted_runs(
        posting,
        ["gram"],
        ["id"],
        count_pairs,
        f"id_a {id_type}, id_b {id_type}, inter bigint, na int, nb int",
    )
    inter = F.sum("inter")
    pairs = partial.groupBy("id_a", "id_b").agg(
        inter.alias("inter"), (F.max("na") + F.max("nb") - inter).alias("union_size")
    )
    jaccard = F.round(F.col("inter") / F.col("union_size"), 6)
    return pairs.select("*", jaccard.alias("jaccard")).where(F.col("jaccard") >= threshold)


def _minhash_params(k: int, seed: int = 11) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MERSENNE)), int(rng.randint(0, _MERSENNE)))
        for _ in range(k)
    ]


def _gram_hash(g):
    """Deterministic 31-bit gram hash: low 32 md5 bits mod the Mersenne
    prime. md5 (not crc32/xxhash) so DuckDB computes the identical
    value: ``('0x' || substr(md5(g), 1, 8))::BIGINT % p``. This SQL
    expression form is the cross-engine CONTRACT; the hot path computes
    the same value in ``_signature_udf`` (pinned equal by
    tests/test_dedup_similarity.py)."""
    return F.conv(F.substring(F.md5(F.encode(g, "utf-8")), 1, 8), 16, 10).cast("long") % _MERSENNE


def _signature_udf(params: list[tuple[int, int]]):
    """grams → MinHash signature in ONE Arrow stage.

    The pure-SQL form (``transform(grams, md5→conv)`` + 32
    ``array_min(transform(...))`` passes) runs in Spark's *interpreted*
    higher-order-function evaluator — md5/conv per gram plus
    k·|grams| lambda evals cost whole seconds per 10^5 grams (measured
    3.3 s for 5000 docs × 52 grams). Here hashlib computes each gram
    md5 once (C speed) and the k affine mins are one vectorized
    ``(k, |grams|)`` NumPy pass in exact int64 (h, a < 2^31 so h·a+b <
    2^62 never overflows). Values are identical to the SQL form —
    that expression remains the DuckDB oracle contract."""
    import hashlib

    ab = np.asarray(params, dtype=np.int64)  # (k, 2)

    @F.pandas_udf("array<long>")
    def signature(grams: pd.Series) -> pd.Series:
        out = []
        a = ab[:, 0][:, None]
        b = ab[:, 1][:, None]
        for gs in grams:
            h = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(g.encode()).digest()[:4], "big")
                    % _MERSENNE
                    for g in gs
                ),
                dtype=np.int64,
                count=len(gs),
            )
            out.append((h[None, :] * a + b) % _MERSENNE if len(gs) else None)
        return pd.Series([o.min(axis=1) if o is not None else None for o in out])

    # §4.4 non-deterministic mark: stop the optimizer duplicating the
    # signature computation below exchanges (values are pure)
    return signature.asNondeterministic()


def _shingled_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """One frame carrying BOTH the shingle set and the MinHash signature
    per doc: (id, grams, signature).

    The signature is computed per row (vectorized UDF, see
    ``_signature_udf``) instead of explode → groupBy: the whole MinHash
    stage costs ZERO shuffles, and the shingle arrays are produced
    exactly once for signatures and verification alike.
    """
    params = _minhash_params(num_hashes)
    shingled = spread_input(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), _shingles(text_col, n).alias("grams")
    ).where(F.size("grams") > 0)
    return shingled.select(
        "id", "grams", _signature_udf(params)(F.col("grams")).alias("signature")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Per-doc MinHash signature: array of k min over affine hashes of
    shingle crc32s — shuffle-free (per-row array math, no explode)."""
    return _shingled_signatures(df, id_col, text_col, n, num_hashes).select(
        "id", "signature"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    materialize: bool = True,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact Jaccard.

    Output matches ``ngram_jaccard_pairs`` (a subset of it: candidates
    the bands caught). At scale this replaces the quadratic self-join.

    CONTRACT NOTE — this operator is EAGER by default: the verified
    pairs are computed and cached at call time (``materialize=True``),
    because the shingle+signature frame is persisted across the banding
    and verification sides and must be released before returning.
    ``materialize=False`` returns the fully lazy plan with NO hidden
    cache at all: the shingle+signature stage is then recomputed by
    each side of the plan (one extra scan) — lazy composition and
    zero retained executor storage, at the price of duplicate shingle
    work. Pick eager for interactive/pipeline use, lazy when a caller
    composes further pruning that must push into the pair build.

    ``max_bucket_size`` guards the band self-join against degenerate hot
    buckets (boilerplate-heavy corpora hash thousands of docs into one
    (band, band_hash) bucket, which is quadratic *within* the bucket):
    larger buckets are skipped. Genuinely similar pairs in a skipped
    bucket are still caught by any of their other ``bands - 1`` bands.
    """
    rows_per_band = num_hashes // bands
    # shingles + signatures in ONE frame; eager mode caches it for the
    # banding and verification sides and drops it before returning (the
    # result below is materialized first), so repeated calls can't
    # accumulate large shingle blocks in storage. Lazy mode skips the
    # persist entirely — both sides recompute, nothing is retained.
    sig_grams = _shingled_signatures(df, id_col, text_col, n, num_hashes)
    if materialize:
        sig_grams = sig_grams.persist()
    # band bucket = md5 of the comma-joined signature slice (engine- and
    # SQL-computable, unlike F.hash's murmur)
    banded = sig_grams.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("signature", b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    cand = banded_pairs(
        banded,
        ["band", "band_hash"],
        "id",
        df.schema[id_col].dataType.simpleString(),
        max_bucket_size,
    )
    # Verify candidates locally (array_intersect on the two shingle sets)
    # instead of a global posting-list self-join: per-candidate cost, so
    # verification scales with |candidates|, not |corpus|².
    ga = sig_grams.select(F.col("id").alias("id_a"), F.col("grams").alias("__ga"))
    gb = sig_grams.select(F.col("id").alias("id_b"), F.col("grams").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb"))
    union_size = F.size("__ga") + F.size("__gb") - inter
    out = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            union_size.alias("union_size"),
            F.round(inter / union_size, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    if not materialize:
        return out
    # materialize the (small) verified-pair result while the shingle
    # cache is hot, then release it — the pair rows stay cached, the
    # shingle+signature blocks (the big allocation) do not
    out = out.persist()
    out.count()
    sig_grams.unpersist()
    return out


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS → one canonical id
    per duplicate cluster (the "keep one copy per cluster" step every
    dedup pipeline ends with; pairs alone under-delete when dups chain
    A~B~C without A~C).

    Hybrid by edge count — the standard shape for this op:

    - ≤ ``driver_threshold`` pairs: union-find on the driver. Verified
      near-dup pair sets are tiny relative to the corpus, and the
      distributed loop's ~4 jobs/round of pure scheduling overhead
      dwarf milliseconds of union-find (measured 20.7 s → sub-second
      on the sf0.1 query's few hundred edges). The edges arrive via
      Arrow (``toPandas``), two plain columns — at the 1M default
      that's ~16 MB for long ids (~2×8 B/edge; strings cost their
      bytes + ~50 B object overhead each), plus the union-find dict at
      ~100 B/node. Multi-GB py4j Row lists are not possible on this
      path by default.
    - above it: min-label propagation with pointer jumping — each round
      every node takes the min of its neighbors' labels and then
      shortcuts through its label's own label, so labels race down long
      paths exponentially: O(log diameter) rounds, two shuffles each.
      Each round is ``localCheckpoint``-ed so the plan doesn't grow.

    Both paths are deterministic (canonical id = cluster minimum) and
    produce identical output (cross-path equality is pinned in
    tests/test_curation.py; the driver query stays under the DuckDB
    recursive-CTE value oracle either way).

    Output: (doc_id, canonical_id, cluster_size) for every node that
    appears in ``pairs``.
    """
    collected = None
    if driver_threshold:
        # ONE materialization decides the path AND feeds it: limit+1
        # rows prove over/under threshold without a separate count job
        # (which would recompute the whole upstream pairs pipeline).
        # Arrow-collected into two plain columns — never py4j Rows.
        pdf = pairs.select(id_a, id_b).limit(driver_threshold + 1).toPandas()
        if len(pdf) <= driver_threshold:
            collected = (pdf[id_a].to_numpy(), pdf[id_b].to_numpy())
        del pdf
    if collected is not None:
        spark = pairs.sparkSession
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(*collected):
            a, b = a.item() if hasattr(a, "item") else a, b.item() if hasattr(b, "item") else b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the canonical id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        roots = {x: find(x) for x in parent}
        sizes: dict = {}
        for root in roots.values():
            sizes[root] = sizes.get(root, 0) + 1
        rows = [(x, roots[x], sizes[roots[x]]) for x in roots]
        id_type = pairs.schema[id_a].dataType.simpleString()
        return spark.createDataFrame(
            rows, f"doc_id {id_type}, canonical_id {id_type}, cluster_size long"
        )

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    labels = labels.localCheckpoint()
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        cand = labels.join(prop, labels["id"] == prop["src"], "left").select(
            labels["id"],
            F.least(labels["label"], F.coalesce(prop["nbr_label"], labels["label"])).alias(
                "label"
            ),
        )
        # pointer jump: adopt my label's own (possibly smaller) label
        mapping = cand.select(F.col("id").alias("__mid"), F.col("label").alias("__mlabel"))
        new_labels = (
            cand.join(mapping, cand["label"] == mapping["__mid"], "left")
            .select(
                cand["id"],
                F.least(cand["label"], F.coalesce("__mlabel", cand["label"])).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(f"dup_clusters did not converge in {max_iter} rounds")
    edges.unpersist()
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        "cluster_size",
    )


@F.pandas_udf(LongType())
def _simhash64_impl(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash over int token-id arrays — ONE vectorized pass for
    the whole Arrow batch: all token ids are avalanched flat, their hash
    bits unpacked to a (total_tokens, 64) matrix, and per-document bit
    votes come from ``np.add.reduceat`` over the document offsets. The
    per-document loop form this replaces paid ~30 µs of small-array
    overhead per doc. Values are identical: majority vote
    ``Σ(2b−1) > 0  ⇔  2·ones > n_tokens``, same splitmix64 constants
    the DuckDB oracle mirrors in exact mod-2^64 SQL."""
    n = len(tokens)
    out = np.zeros(n, dtype=np.int64)
    arrs = tokens.to_numpy()
    lens = np.fromiter(
        (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=n
    )
    nz = np.nonzero(lens)[0]
    if not len(nz):
        return pd.Series(out)
    h = np.concatenate([np.asarray(arrs[i], dtype=np.uint64) for i in nz])
    # splitmix64-style avalanche for bit diffusion
    h = h * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    doc_lens = lens[nz]
    starts = np.zeros(len(nz), dtype=np.int64)
    np.cumsum(doc_lens[:-1], out=starts[1:])
    # int64 ACCUMULATOR over the uint8 bit matrix: materializing the
    # bits as int64 first would stream 8x the bytes (512 MB per 1M
    # tokens) through this box's starved memory bus
    ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)  # (docs, 64)
    majority = (2 * ones) > doc_lens[:, None]
    sims = np.packbits(majority, axis=1, bitorder="little").view(np.int64).ravel()
    out[nz] = sims
    return pd.Series(out)


# §4.4 non-deterministic mark: joins on the simhash column push an
# isnotnull filter below the projection and re-evaluate the whole UDF
# at scan width (measured: the duplicated evaluation dominated
# q_simhash's wall). Values are pure; the mark only blocks duplication.
_simhash64 = _simhash64_impl.asNondeterministic()


def simhash_duplicates(
    df: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Documents sharing an identical 64-bit SimHash (near-dup at the
    token-multiset level). Output: (simhash, group_size, doc_id,
    canonical_id)."""
    sigs = spread_input(df.select(id_col, tokens_col)).select(
        F.col(id_col), _simhash64(F.col(tokens_col)).alias("simhash")
    )
    # window over simhash instead of agg + join-back: one exchange, one
    # SimHash evaluation (the join form re-tokenized and re-hashed the
    # corpus on both sides) — identical rows out
    w = Window.partitionBy("simhash")
    return (
        sigs.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .where(F.col("group_size") > 1)
        .select("simhash", "group_size", F.col(id_col), "canonical_id")
    )


def simhash_near_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_hamming: int = 3,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits of each other's 64-bit SimHash.

    Pigeonhole banding: split the signature into ``max_hamming + 1``
    bands — two signatures within ``max_hamming`` bits MUST agree on at
    least one whole band, so candidates come from a band-equality
    self-join (one shuffle on (band, value), never all-pairs) and the
    exact Hamming distance verifies each candidate via ``bit_count``
    (JVM-side). Hot band buckets are capped like MinHash-LSH.

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    sigs = spread_input(df.select(id_col, tokens_col)).select(
        F.col(id_col).alias("id"), _simhash64(F.col(tokens_col)).alias("simhash")
    )
    band_vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(
                F.lit((1 << width) - 1 if (b + 1) * width <= 64 else -1)
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select("id", "simhash", F.posexplode(band_vals).alias("band", "val"))
    # one-shuffle candidate generation (operators/banding.py); the
    # signature rides through the bucket as the payload, so Hamming
    # verification needs no join back to the signature table
    cand = banded_pairs(
        banded,
        ["band", "val"],
        "id",
        df.schema[id_col].dataType.simpleString(),
        max_bucket_size,
        payload_col="simhash",
        payload_type="long",
    )
    hamming = F.bit_count(F.col("payload_a").bitwiseXOR(F.col("payload_b")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
