"""PySpark's worker daemon, run after pruning ``sys.path``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``setup_spark_files`` in ``pyspark/worker_util.py``), and
every zipimporter in ``sys.path_importer_cache`` then re-reads its
archive's directory: the ``pyspark.zip`` and the ``spark-core`` jar that
Spark puts on the worker ``PYTHONPATH``. The jar holds no ``.py`` file.
The daemon forks every worker, so pruning its path once spares each
task that re-read. ``session.get_spark`` sets it as
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def pruned_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without ``.jar`` entries or repeats, and with ``pyspark.zip``
    swapped for the unpacked ``$SPARK_HOME/python`` when that tree holds
    ``pyspark``."""
    unpacked = os.path.join(spark_home, "python") if spark_home else None
    if unpacked is not None and not os.path.isdir(os.path.join(unpacked, "pyspark")):
        unpacked = None
    out: list[str] = []
    for entry in path:
        if entry.endswith(".jar"):
            continue
        if unpacked is not None and os.path.basename(entry) == "pyspark.zip":
            entry = unpacked
        if entry not in out:
            out.append(entry)
    return out


if __name__ == "__main__":
    sys.path[:] = pruned_path(sys.path, os.environ.get("SPARK_HOME"))
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()
