"""Seeded input generators. The engine sees only the parquet they write.

Every table is a pure function of ``(shape, seed)`` and is built once
per seed under the checkout's ``.perfbench/inputs`` directory, outside
any timed region; a ``_SUCCESS`` marker makes a rebuilt-from-scratch
directory distinguishable from a half-written one.

- :func:`sequences` is ``datafiller_spark.sources.synth_sequences``'
  table with a seed, computed with NumPy (Spark's ``xxhash64`` is
  reimplemented here, so building an input starts no JVM). At
  ``seed=0`` every column is the same as there, so
  ``sequences(path, 2_000_000, 2048, 5760, seed=0)`` is the ``bench.py``
  table of record row for row. Other seeds add the seed as a last hash
  input; ``event_ts`` is ``id % span`` minutes for every seed, so the
  time grid (and the work per grid) stays put while the source
  assignment and token counts move.
- :func:`battery_tables` writes the ``events``/``documents``/
  ``embeddings``/``orders`` tables the query battery reads, with the
  column types of the repo's test data, at about its sf0.01 size.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

SEQ_BASE_TS = "2024-01-01 00:00:00"


def done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


# Spark's ``xxhash64`` (``XXH64`` over each column in turn, seed 42), so
# the table needs no Spark to build
_P1, _P2, _P3, _P4, _P5 = (np.uint64(x) for x in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v, h):
    h = h + _P5 + np.uint64(8)
    h = h ^ (_rotl(v.astype(np.uint64) * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_int(v, h):
    h = h + _P5 + np.uint64(4)
    h = h ^ ((np.asarray(v).astype(np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def xxhash64(long_col, *int_cols) -> np.ndarray:
    """``F.abs(F.xxhash64(long_col, *int_cols))`` as int64."""
    with np.errstate(over="ignore"):
        h = _hash_long(long_col, np.full(len(long_col), 42, dtype=np.uint64))
        for c in int_cols:
            h = _hash_int(np.broadcast_to(c, h.shape), h)
    return np.abs(h.view(np.int64))


def sequences(path: str, n_docs: int, n_sources: int, span_minutes: int, seed: int,
              partitions: int = 16) -> str:
    """Write the seeded sequence table to ``path`` (once) and return it,
    as ``partitions`` parquet files of consecutive ids, the way
    ``spark.range(0, n_docs, 1, partitions)`` splits them."""
    if done(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    salt = () if seed == 0 else (int(seed),)
    n_tail = max(n_sources - 2, 1)
    mean_tokens = 128
    base = np.datetime64(SEQ_BASE_TS.replace(" ", "T"), "us")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    bounds = [n_docs * k // partitions for k in range(partitions + 1)]
    for part, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        ids = np.arange(lo, hi, dtype=np.int64)
        h = xxhash64(ids, 7, *salt)
        b1000 = h % 1000
        tail = xxhash64(ids, 23, *salt) % n_tail
        source = np.where(b1000 < 300, "web", np.where(b1000 < 500, "books", np.char.add("wiki-", tail.astype(str))))
        n_tok = (mean_tokens // 2 + h % mean_tokens).astype(np.int32)
        offsets = np.concatenate(([0], np.cumsum(n_tok, dtype=np.int64)))
        doc = np.repeat(ids, n_tok)
        pos = (np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], n_tok) + 1).astype(np.int32)
        tokens = (xxhash64(doc, pos, 13, *salt) % 50257).astype(np.int32)
        table = pa.table({
            "doc_id": pa.array(np.char.add("doc-", np.char.zfill(ids.astype(str), 12)), pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(tokens)),
            "n_tok": pa.array(n_tok),
            "source": pa.array(source, pa.string()),
            "event_ts": pa.array(base + (ids % span_minutes).astype("timedelta64[m]"), pa.timestamp("us")),
        })
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


# ---------------------------------------------------------------- battery

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line sort window "
    "order data column join small customer query filter big stream group vector the a"
).split()
_LANG_WORDS = {
    "en": "the and of to in is that it for with".split(),
    "fr": "le la les et des est une pour dans que".split(),
    "de": "der die und das ist nicht mit ein eine auf".split(),
    "es": "el la los las y es una para con que".split(),
    "zh": "的 是 在 了 和 有 我 他 这 中".split(),
}
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

BATTERY_SHAPE = {"events": 10_000, "documents": 500, "embeddings": 500, "orders": 15_000}


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def _documents(rng: np.random.Generator, n: int):
    """Word-salad documents with planted exact and near duplicates, so
    the dedup and near-dup operators have pairs to find."""
    import pyarrow as pa

    langs = rng.choice(list(_LANG_WORDS), size=n, p=[0.44, 0.13, 0.14, 0.14, 0.15])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.04:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and r < 0.10:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
            continue
        vocab = _WORDS + _LANG_WORDS[langs[i]]
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), size=n_words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int):
    import pyarrow as pa

    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = base + np.sort(rng.integers(0, span_us, size=n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, size=n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n) + 0.01, 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)], pa.string()
            ),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    import pyarrow as pa

    labels = rng.integers(0, 10, size=n)
    centers = rng.normal(size=(10, dim))
    vecs = (centers[labels] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _orders(rng: np.random.Generator, n: int):
    import pyarrow as pa

    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 1500, size=n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n).tolist(), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, size=n), 2)),
            "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, size=n).tolist(), pa.string()),
        }
    )


def battery_tables(path: str, seed: int) -> str:
    """Write the battery's tables as ``<path>/<name>.parquet`` (once)."""
    if done(path):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    makers = {"events": _events, "documents": _documents, "embeddings": _embeddings, "orders": _orders}
    for i, (name, make) in enumerate(makers.items()):
        rng = np.random.default_rng([int(seed), i])
        _write(make(rng, BATTERY_SHAPE[name]), os.path.join(path, f"{name}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path
