"""Recall/cost sweep for the two ANN paths on the sf0.1 embeddings.

Mirrors the operators' exact hash math in NumPy (same hyperplane seeds,
same sign rule, same probe masks; IVF centroids come from the REAL
``train_ivf_centroids`` so the k-means init/order matches) and charts
recall@5 against the fraction of the corpus each query scans. The
chosen defaults are then validated through the real Spark operators —
`python scripts/ann_recall_sweep.py --validate` runs only that step.

Output: a markdown table (stdout) for BENCH.md plus the tuned-default
validation line.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

from datafiller_spark.operators.similarity import _hyperplanes, _probe_masks  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
K = 5
N_QUERIES = 200  # tuning set; the bench's tracked metric uses its own 10


def load(sf_dir: str = SF_DIR):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    x = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    order = np.argsort(ids)
    return ids[order], x[order]


def exact_topk(x: np.ndarray, q_idx: np.ndarray, k: int = K) -> dict[int, set]:
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn[q_idx] @ xn.T
    out = {}
    for row, qi in enumerate(q_idx):
        s = sims[row].copy()
        s[qi] = -np.inf
        top = np.argpartition(-s, k)[:k]
        top = top[np.lexsort((top, -s[top]))]  # desc cosine, ties id asc
        out[qi] = set(top[:k])
    return out


def lsh_candidates(x, q_idx, n_planes, n_tables, radius):
    """Per-query candidate sets under the operator's exact bucket math."""
    dim = x.shape[1]
    masks = np.array(_probe_masks(n_planes, radius), dtype=np.int64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    cands = {qi: set() for qi in q_idx}
    scanned = 0
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=17 + 31 * t)
        buckets = ((x @ planes.T >= 0) * weights).sum(axis=1)
        by_bucket: dict[int, np.ndarray] = {}
        for b in np.unique(buckets):
            by_bucket[int(b)] = np.nonzero(buckets == b)[0]
        for qi in q_idx:
            probe_buckets = buckets[qi] ^ masks
            for pb in probe_buckets:
                members = by_bucket.get(int(pb))
                if members is not None:
                    cands[qi].update(members.tolist())
    for qi in q_idx:
        cands[qi].discard(qi)
        scanned += len(cands[qi])
    return cands, scanned / (len(q_idx) * (len(x) - 1))


def ivf_candidates(x, q_idx, centroids, nprobe):
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    sims = xn @ centroids.T
    assign = np.argmax(sims, axis=1)  # ties: argmax takes the SMALLEST id;
    # the operator takes the LARGEST on exact ties — continuous data never ties
    k = centroids.shape[0]
    order = np.argsort(-sims[:, ::-1], axis=1, kind="stable")
    probe = (k - 1 - order)[:, :nprobe]
    lists: dict[int, np.ndarray] = {c: np.nonzero(assign == c)[0] for c in range(k)}
    cands = {}
    scanned = 0
    for qi in q_idx:
        s: set = set()
        for c in probe[qi]:
            s.update(lists.get(int(c), ()).tolist() if isinstance(lists.get(int(c)), np.ndarray) else [])
        s.discard(qi)
        cands[qi] = s
        scanned += len(s)
    return cands, scanned / (len(q_idx) * (len(x) - 1))


def recall(cands: dict[int, set], exact: dict[int, set]) -> float:
    vals = [len(cands[q] & exact[q]) / len(exact[q]) for q in exact]
    return float(np.mean(vals))


def sweep():
    ids, x = load()
    rng = np.random.RandomState(7)
    q_idx = rng.choice(len(x), size=min(N_QUERIES, len(x)), replace=False)
    exact = exact_topk(x, q_idx)

    rows = []
    for planes, tables, radius in [
        (8, 8, 1), (8, 8, 2), (8, 12, 1), (8, 12, 2), (8, 16, 2),
        (10, 12, 2), (10, 16, 2), (10, 16, 3), (12, 16, 2), (12, 16, 3),
        (12, 24, 3), (10, 24, 2),
        # frontier refinement — includes the shipped default (12, 32, 2)
        (11, 16, 2), (11, 20, 2), (12, 24, 2), (12, 32, 2), (14, 32, 3),
    ]:
        c, frac = lsh_candidates(x, q_idx, planes, tables, radius)
        rows.append(("lsh", f"P={planes} T={tables} r={radius}", recall(c, exact), frac))
        print(f"lsh  {rows[-1][1]:<18} recall@5={rows[-1][2]:.3f} cand_frac={frac:.3f}", flush=True)

    # IVF: centroids from the real operator so init/order match exactly
    from datafiller_spark.operators.similarity import train_ivf_centroids
    from datafiller_spark.session import get_spark
    from datafiller_spark.sources import load_table
    from pyspark.sql import functions as F

    spark = get_spark()
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    cents = {
        nc: train_ivf_centroids(emb, "embedding", nc, x.shape[1]) for nc in (16, 32, 64)
    }
    spark.stop()
    for nc, nprobe in [(16, 4), (16, 8), (16, 12), (32, 8), (32, 16), (32, 24), (64, 16), (64, 32)]:
        c, frac = ivf_candidates(x, q_idx, cents[nc], nprobe)
        rows.append(("ivf", f"C={nc} nprobe={nprobe}", recall(c, exact), frac))
        print(f"ivf  {rows[-1][1]:<18} recall@5={rows[-1][2]:.3f} cand_frac={frac:.3f}", flush=True)

    print("\n| path | config | recall@5 | candidates scanned |")
    print("|---|---|---|---|")
    for path, cfg, rec, frac in rows:
        print(f"| {path} | {cfg} | {rec:.3f} | {frac:.1%} of corpus |")


def validate():
    """Run the TUNED defaults through the real Spark operators and print
    recall@5 against the exact Spark path on the bench's 10 queries."""
    from datafiller_spark.operators import cosine_topk, ivf_topk, lsh_topk
    from datafiller_spark.session import get_spark
    from datafiller_spark.sources import load_table
    from pyspark.sql import functions as F

    spark = get_spark()
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)

    def top(df):
        out: dict[int, set] = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = top(cosine_topk(emb, queries, "vec_id", "embedding", k=K))
    for name, df in [
        ("lsh tuned", lsh_topk(emb, queries, "vec_id", "embedding", k=K,
                               n_planes=12, dim=64, n_tables=32, probe_radius=2)),
        ("ivf tuned", ivf_topk(emb, queries, "vec_id", "embedding", k=K,
                               n_clusters=32, nprobe=24, dim=64)),
    ]:
        ann = top(df)
        rec = np.mean([len(exact[q] & ann.get(q, set())) / len(exact[q]) for q in exact])
        print(f"{name}: spark recall@5 = {rec:.3f}")
    spark.stop()


if __name__ == "__main__":
    if "--validate" in sys.argv:
        validate()
    else:
        sweep()
