"""Session lifecycle, cache hygiene, memory sampling and host facts.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
inputs (once per seed), warehouse scratch, Spark's local and temp
directories, event logs and the per-run result files.
"""

from __future__ import annotations

import os
import platform
import shutil
import time

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "cpus": host_cpus(),
        "mem_gb": round(host_mem_gb(), 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


class Dirs:
    """The benchmark's private directory tree inside the checkout."""

    def __init__(self, root: str):
        self.base = os.path.join(root, ".perfbench")
        self.inputs = os.path.join(self.base, "inputs")
        self.work = os.path.join(self.base, "work")
        self.tmp = os.path.join(self.base, "tmp")
        self.events = os.path.join(self.base, "eventlog")
        self.results = os.path.join(self.base, "results")

    def fresh(self) -> None:
        for d in (self.work, self.tmp, self.events):
            shutil.rmtree(d, ignore_errors=True)
        for d in (self.inputs, self.work, self.tmp, self.events, self.results):
            os.makedirs(d, exist_ok=True)
        # Python-side temp files (py4j connection info, pandas spill)
        # and the JVM's (set in Session._conf) stay in the checkout
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


class Session:
    """One SparkSession at a time, sized from the host, never from the
    engine's 32-core default. ``stop`` ends the SparkContext and keeps
    the JVM; ``close`` stops Spark, then the JVM, and waits for it to
    exit."""

    def __init__(self, dirs: Dirs, shuffle_partitions: int, event_log: bool = False):
        self.dirs = dirs
        self.cpus = host_cpus()
        self.shuffle_partitions = shuffle_partitions
        self.event_log = event_log
        self.spark = None

    def _conf(self) -> dict[str, str]:
        driver_gb = max(1, min(2, int(host_mem_gb() // 4)))
        conf = {
            "spark.driver.memory": f"{driver_gb}g",
            "spark.local.dir": self.dirs.tmp,
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs.tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.dirs.tmp, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # fine scan splits so every core gets input slices
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        }
        if self.event_log:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.dirs.events
            # one plain JSON-lines file per application
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def start(self) -> float:
        from datafiller_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.shuffle_partitions,
            extra_conf=self._conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def clear_cache(spark) -> int:
    """Drop every cached Dataset and persisted RDD; return how many RDDs
    were still persisted afterwards (0 unless something bypasses the
    catalog's cache manager)."""
    spark.catalog.clearCache()
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def tasks_in_group(spark, group: str) -> int:
    """Tasks completed by every job of ``group`` — equal across repeats
    of one operation unless a repeat was served from cache."""
    st = spark.sparkContext.statusTracker()
    total = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                total += stage.numCompletedTasks
    return total


def _tree(root: int) -> list[int]:
    """``root`` and its live descendants (this process, the JVM and the
    Spark Python workers), from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class PeakRss:
    """Peak resident memory of this process tree, from the kernel's own
    per-process high-water mark (``VmHWM``), so no short peak is missed
    between samples. ``reset`` restarts every mark at the current RSS;
    ``take`` sums the marks since."""

    def reset(self) -> None:
        for pid in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def take(self) -> int:
        total = 0
        for pid in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total
