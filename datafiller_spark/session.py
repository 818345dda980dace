"""SparkSession factory with the engine's scale-oriented defaults.

Local mode is only the sandbox harness; the same config block is what we
would pass to ``spark-submit`` on a multi-executor cluster. The knobs that
matter at 100 TB:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow execution for every pandas-UDF exchange,
- shuffle partitions sized to the parallelism level (overridable),
- parquet pushdown left at defaults (filters/column pruning reach the scan),
- Python workers forked from ``datafiller_spark._worker_daemon``, which
  drops the jar and swaps ``pyspark.zip`` for the unpacked
  ``$SPARK_HOME/python`` on the daemon's ``sys.path``: PySpark calls
  ``importlib.invalidate_caches()`` on every task, and each zipimporter
  on the path re-reads its whole archive then (0.16–0.46 s per task on a
  4-core host). ``spark-submit`` jobs that build their own session keep
  PySpark's stock daemon.

The driver heap and the local core count are sized from the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's memory, capped at 8 GiB, in MiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(8 * 1024, total // 2 // 2**20)}m"


def get_spark(
    app_name: str = "datafiller_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    # Make the package importable by executor-side Python workers. On a
    # real cluster this is `spark-submit --py-files datafiller_spark.zip`;
    # locally the forked workers inherit the driver environment.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    # One BLAS thread per Python worker: the kernels run in as many
    # worker processes as there are cores — nested BLAS threading would
    # oversubscribe the box quadratically (observed: n32 slower than n8).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        if var not in os.environ:
            os.environ[var] = "1"
            if var == "OPENBLAS_NUM_THREADS":
                # The env var only reaches FRESH worker processes; the
                # driver's numpy has usually already initialized its BLAS
                # pool, and kernels' _ensure_blas_pinned treats a set env
                # var as a user override and skips dlopen pinning. Pin the
                # driver's loaded OpenBLAS here (we set the var, not the
                # user) or driver-side kernel runs (oracle gates, tests)
                # go multithreaded — nondeterministic float32 GEMM order
                # vs the single-threaded executors.
                from .kernels.multivariate import _pin_blas_single_thread

                _pin_blas_single_thread()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this is
        # set to ~2-3x total executor cores (AQE coalesces the excess).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        if n == "*":
            shuffle_partitions = cpus
        elif "," in n:  # local-cluster[N,coresPerExecutor,mem]
            parts = n.split(",")
            shuffle_partitions = int(parts[0]) * int(parts[1])
        else:
            shuffle_partitions = int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep AQE's parallelism-first coalescing (default): size-based
        # coalescing (parallelismFirst=false) would pack partitions up to
        # the 64MB advisory size. Parallelism-first still never makes a
        # partition smaller than coalescePartitions.minPartitionSize
        # (1MB), so a shuffle under ~1MB per core loses parallelism: a
        # 1.1MB kernel input becomes ONE task. Python-kernel stages cost
        # per row/series, not per byte, so the per-series runner
        # (operators/_series.py) uses a numbered repartition, which AQE
        # never coalesces, instead of relying on this setting.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "datafiller_spark._worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
