"""Warehouse comparison shared by the resume and streaming tests."""

import hashlib
import os

TIERS = ("1m", "1h", "1d")


def warehouse_sets(spark, out, key_cols):
    """{directory: sorted rows} for every ``tier=<t>`` (all columns) and
    ``chunks_tier=<t>`` (keys, chunk_start, n_points, payload bytes)."""
    sets = {}
    for tier in TIERS:
        cols = [*key_cols, "bucket", "n_points", "sum_value", "min_value", "max_value", "avg_value"]
        rows = spark.read.parquet(os.path.join(out, f"tier={tier}")).select(*cols).collect()
        sets[f"tier={tier}"] = sorted(map(tuple, rows))
        cols = [*key_cols, "chunk_start", "n_points", "payload"]
        rows = spark.read.parquet(os.path.join(out, f"chunks_tier={tier}")).select(*cols).collect()
        sets[f"chunks_tier={tier}"] = sorted((*r[:-1], bytes(r.payload)) for r in rows)
    return sets


def assert_same_warehouse(spark, out, ref, key_cols):
    """Every tier row set and chunk set of ``out`` equals ``ref``'s,
    bytes exact; returns ``ref``'s sets."""
    got = warehouse_sets(spark, out, key_cols)
    want = warehouse_sets(spark, ref, key_cols)
    for name in want:
        assert got[name] == want[name], f"{name} diverged"
        assert want[name], f"{name} is empty"
    return want


def tree_digest(root):
    """{relative path: sha256} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def partition_files(table_dir):
    """{partition directory: {file: (inode, mtime_ns)}} of a table."""
    out = {}
    for part in sorted(os.listdir(table_dir)):
        if "=" in part:
            files = os.scandir(os.path.join(table_dir, part))
            out[part] = {f.name: (f.inode(), f.stat().st_mtime_ns) for f in files}
    return out
