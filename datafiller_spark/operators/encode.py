"""Tier encoding: rolled-up point streams → compact binary chunks.

``encode_tier`` packs each (key, chunk-of-buckets) into one row carrying
a Gorilla XOR / delta-of-delta payload (kernels/codec.py). Chunking by a
coarser calendar unit (default: day chunks for the 1m tier) bounds chunk
size and preserves partition pruning on the chunk column. ``decode_tier``
restores the exact point stream — the round-trip is bit-exact on float64
payloads, which is how the correctness oracle validates the codec at the
query level (encode∘decode composed with a rollup must hash-match the
plain rollup SQL).

Encoding runs on the per-series runner (``_series._per_series``);
decoding explodes payloads over whole Arrow batches.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..kernels.codec import decode_points, encode_points
from ._series import _per_series

_CHUNK_UNIT = {"1m": "day", "1h": "month", "1d": "year"}
# the same calendar periods as pandas period codes
_PERIOD_CODE = {"1m": "D", "1h": "M", "1d": "Y"}


def _chunk_slices(idx, ts_seconds, period_code):
    """(chunk_start, start, end) slices of a SORTED DatetimeIndex grouped
    by calendar period, in one O(n) pass. Day periods are pure int64
    arithmetic (the hot 1m-tier case: the per-chunk ``period == start``
    mask scans cost ~4 ms per 5760-bucket series); month/year periods
    (coarse tiers, few rows) go through ``to_period`` once."""
    n = len(ts_seconds)
    if not n:
        return
    if period_code == "D":
        trunc = ts_seconds - ts_seconds % 86400
        cut = np.flatnonzero(np.diff(trunc)) + 1
        starts = np.concatenate(([0], cut))
        ends = np.concatenate((cut, [n]))
        for s, e in zip(starts, ends):
            yield pd.Timestamp(int(trunc[s]), unit="s"), int(s), int(e)
    else:
        period = idx.to_period(period_code).start_time
        tr = period.view("int64")
        cut = np.flatnonzero(np.diff(tr)) + 1
        starts = np.concatenate(([0], cut))
        ends = np.concatenate((cut, [n]))
        for s, e in zip(starts, ends):
            yield period[s], int(s), int(e)


def _encode_chunks(index: pd.DatetimeIndex, values: np.ndarray, tier: str):
    """(chunk_start, start, end, payload) for each calendar-period chunk
    of one SORTED series — the chunking ``encode_tier`` and the pipeline
    kernel share."""
    ts = index.to_numpy().astype("datetime64[s]").astype(np.int64)
    for chunk_start, s, e in _chunk_slices(index, ts, _PERIOD_CODE[tier]):
        yield chunk_start, s, e, encode_points(ts[s:e], values[s:e])


def encode_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    tier: str,
) -> DataFrame:
    """One binary chunk row per (key, chunk period), built on the
    per-series runner: each series is chunked by ``_chunk_slices``."""
    keys = list(key_cols)

    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    out_schema.add("chunk_start", "timestamp")
    out_schema.add("tier", "string")
    out_schema.add("n_points", "integer")
    out_schema.add("payload", "binary")

    def encode_series(key_values: dict, series: pd.DataFrame) -> pd.DataFrame:
        chunks = _encode_chunks(
            pd.DatetimeIndex(series[bucket_col]), series[value_col].to_numpy("float64"), tier
        )
        out = pd.DataFrame(
            [(start, e - s, payload) for start, s, e, payload in chunks],
            columns=["chunk_start", "n_points", "payload"],
        )
        return out.assign(tier=tier, **key_values)

    return _per_series(
        df.select(*keys, bucket_col, value_col), keys, bucket_col, encode_series, out_schema
    )


def decode_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str = "bucket",
    value_col: str = "value",
) -> DataFrame:
    """Explode chunk payloads back into (key, bucket, value) points."""
    keys = list(key_cols)

    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    out_schema.add(bucket_col, "timestamp")
    out_schema.add(value_col, "double")

    def decode_batch(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            # one concatenated frame per Arrow batch: decode every chunk,
            # then np.repeat the key columns by chunk point counts — no
            # per-row DataFrame construction
            decoded = [decode_points(bytes(p)) for p in pdf["payload"]]
            counts = np.array([len(ts) for ts, _ in decoded], dtype=np.int64)
            out = {
                bucket_col: pd.to_datetime(
                    np.concatenate([ts for ts, _ in decoded]), unit="s"
                ),
                value_col: np.concatenate([vals for _, vals in decoded]),
            }
            frame = pd.DataFrame(out)
            for k in keys:
                frame[k] = np.repeat(pdf[k].to_numpy(), counts)
            yield frame[[*keys, bucket_col, value_col]]

    return df.mapInPandas(decode_batch, schema=out_schema)
