"""The session defaults: the path-pruning worker daemon and the driver heap
sized from the host."""

import os

import pandas as pd

from datafiller_spark._worker_daemon import pruned_path
from datafiller_spark.session import _default_driver_memory


def _spark_home(tmp_path, unpacked: bool) -> str:
    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    if unpacked:
        (home / "python" / "pyspark").mkdir()
    return str(home)


def test_pruned_path_swaps_zip_for_unpacked_tree(tmp_path):
    home = _spark_home(tmp_path, unpacked=True)
    path = [
        "",
        f"{home}/python/lib/pyspark.zip",
        f"{home}/python/lib/py4j-0.10.9.9-src.zip",
        f"{home}/jars/spark-core_2.13-4.1.2.jar",
        "/site-packages",
    ]
    assert pruned_path(path, home) == [
        "",
        f"{home}/python",
        f"{home}/python/lib/py4j-0.10.9.9-src.zip",
        "/site-packages",
    ]


def test_pruned_path_keeps_zip_without_unpacked_tree(tmp_path):
    home = _spark_home(tmp_path, unpacked=False)
    path = [f"{home}/python/lib/pyspark.zip", f"{home}/jars/spark-core.jar", "/site-packages"]
    assert pruned_path(path, home) == [f"{home}/python/lib/pyspark.zip", "/site-packages"]


def test_pruned_path_without_spark_home_drops_only_jars():
    path = ["/a/pyspark.zip", "/b/spark-core.jar", "/c", "/d/py4j-src.zip", "/e/x.jar"]
    assert pruned_path(path, None) == ["/a/pyspark.zip", "/c", "/d/py4j-src.zip"]


def test_pruned_path_keeps_order_and_drops_repeats(tmp_path):
    home = _spark_home(tmp_path, unpacked=True)
    path = [
        "/z",
        f"{home}/python",
        "/a",
        f"{home}/python/lib/pyspark.zip",
        "/z",
        "/m",
        "/a",
    ]
    assert pruned_path(path, home) == ["/z", f"{home}/python", "/a", "/m"]


def test_python_workers_run_on_the_pruned_path(spark):
    """A Python task of a ``get_spark`` session sees no jar and no
    ``pyspark.zip`` on its path, and no zipimporter over either: PySpark's
    per-task ``importlib.invalidate_caches()`` has no archive to re-read
    but the small py4j zip."""

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        archives = [
            f.archive for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        ]
        home = os.environ.get("SPARK_HOME") or ""
        yield pd.DataFrame(
            {
                "path": ["\n".join(sys.path)],
                "archives": ["\n".join(archives)],
                "pyspark_file": [pyspark.__file__],
                "unpacked": [os.path.isdir(os.path.join(home, "python", "pyspark"))],
            }
        )

    rows = (
        spark.range(0, 64, numPartitions=4)
        .mapInPandas(probe, "path string, archives string, pyspark_file string, unpacked boolean")
        .collect()
    )
    assert len(rows) == 4
    for row in rows:
        path = row.path.split("\n")
        archives = [a for a in row.archives.split("\n") if a]
        assert not [p for p in path if p.endswith(".jar")], path
        assert not [a for a in archives if a.endswith(".jar") or a.endswith("pyspark.zip")], archives
        if row.unpacked:
            assert not [p for p in path if os.path.basename(p) == "pyspark.zip"], path
            assert ".zip" not in row.pyspark_file, row.pyspark_file


def test_default_driver_memory_fits_the_host():
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    default = _default_driver_memory()
    assert default.endswith("m")
    assert 0 < int(default[:-1]) <= min(8 * 1024, host_mb)
