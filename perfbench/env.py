"""Process environment, Spark session, provenance and resource probes.

``configure`` must run before numpy, pandas or pyspark are imported:
the BLAS/OpenMP thread pins are read when those libraries load, and
Spark's Python workers inherit ``PYTHONPATH`` from the driver process.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys

CORES = 4  # load is sized for a 4-core host: local[4], 2 HTTP clients
DRIVER_MEMORY = "2g"  # well under the 16 GB host; bench.py uses 32g
MAX_NEW_SIZE = "512m"  # young generation cap, see start_session
SETUP_REPS = 3  # set-ups per benchmark run; setup_s is their median

# session confs the package sets, plus the timezone its cached plans
# depend on (the hygiene check compares them before and after a run)
TOUCHED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.session.timeZone",
)

_BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


class Paths:
    """Where one run reads and writes: everything sits under
    ``perfbench/.work`` in the checkout, which the run empties at start
    and removes at exit."""

    def __init__(self, root: str):
        self.root = root
        self.work = os.path.join(root, "perfbench", ".work")
        self.tmp = os.path.join(self.work, "tmp")
        self.local = os.path.join(self.work, "spark-local")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.data = os.path.join(self.work, "data")
        self.results = os.path.join(root, "perfbench", "results")

    def reset(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in (self.tmp, self.local, self.eventlog, self.data,
                  self.results):
            os.makedirs(d, exist_ok=True)

    def remove(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def configure(paths: Paths) -> None:
    """Pin threads and route temp files before heavy imports."""
    for var in _BLAS_VARS:
        os.environ[var] = "1"
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = paths.root + (os.pathsep + pp if pp else "")
    if paths.root not in sys.path:
        sys.path.insert(0, paths.root)
    # tempfile.mkdtemp (the catalog's lms_* staging dirs) and Spark's
    # scratch space stay inside the checkout
    os.environ["TMPDIR"] = paths.tmp
    os.environ["SPARK_LOCAL_DIRS"] = paths.local
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(paths: Paths, app: str, *, trace: bool):
    """A fresh SparkSession in a new JVM, warmed up."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]").appName(app)
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", paths.local)
        .config("spark.sql.warehouse.dir",
                os.path.join(paths.work, "warehouse"))
        # a fixed heap size, so how often the collector runs does not
        # depend on how far it has grown, and a capped young generation,
        # so the collector recycles the same young pages: RSS then
        # follows what the old generation retains.  No perf-data file
        # in the host's /tmp.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={paths.tmp} -Xms{DRIVER_MEMORY} "
                f"-XX:MaxNewSize={MAX_NEW_SIZE} -XX:-UsePerfData")
        .config("spark.eventLog.enabled", "true" if trace else "false")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + paths.eventlog)
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # JVM, codegen and Python-worker warm-up (one pandas worker per
    # core), so the first measured op is not charged for them
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(0, CORES, 1, CORES).mapInPandas(
        lambda frames: frames, "id long").collect()
    return spark


def stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit (it
    exits when its standard input closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _git_rev(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_sha(root: str) -> str:
    """Content hash of the package sources: identifies the program
    where the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "loudml_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _java_version(spark) -> str:
    """The session JVM's vendor and runtime version."""
    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    return f"{prop('java.vendor')} {prop('java.runtime.version')}"


def provenance(root: str, spark, *, workload: str, seed: int, seconds: int,
               trace: bool, params: dict) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "params": params,
        "cpus": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "driver_memory": DRIVER_MEMORY,
        "git_rev": _git_rev(root),
        "source_sha": source_sha(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(spark),
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def reset_peak_rss(jvm: int | None) -> None:
    """Restart the RSS high-water marks of the driver Python and the
    JVM at their current RSS, so set-up peaks are not counted."""
    for pid in (os.getpid(), jvm):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident set of the driver Python plus the JVM since the
    last :func:`reset_peak_rss`, in MB (each process's own high-water
    mark, summed)."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm) if jvm else 0)
    return kb / 1024.0


def heap_used_mb(spark) -> float:
    """JVM heap in use after a full collection, in MB: what the session
    still holds, persisted blocks and leaked objects included."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2.0 ** 20


def host_cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal (guest is in user)
    return sum(fields[:8]), (fields[7] if len(fields) > 7 else 0)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


class Hygiene:
    """Session side effects left by a workload: persisted RDDs,
    ``lms_*`` temp dirs and the session confs the package touches."""

    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.tmp_dir = tmp_dir

    def snapshot(self) -> dict:
        jsc = self.spark.sparkContext._jsc
        rdds = sorted(int(k) for k in jsc.getPersistentRDDs().keySet()
                      .toArray())
        infos = jsc.sc().getRDDStorageInfo()
        persisted_bytes = sum(int(i.memSize()) + int(i.diskSize())
                              for i in infos)
        tmpdirs = sorted(d for d in os.listdir(self.tmp_dir)
                         if d.startswith("lms_"))
        confs = {k: self.spark.conf.get(k, None) for k in TOUCHED_CONFS}
        return {"rdds": rdds, "persisted_bytes": persisted_bytes,
                "tmpdirs": tmpdirs, "confs": confs}

    @staticmethod
    def leaks(before: dict, after: dict) -> dict:
        return {
            "leaked_rdds": len(set(after["rdds"]) - set(before["rdds"])),
            "leaked_tmpdirs": len(set(after["tmpdirs"])
                                  - set(before["tmpdirs"])),
            "leaked_confs": sum(1 for k in TOUCHED_CONFS
                                if after["confs"].get(k)
                                != before["confs"].get(k)),
        }


def cache_entries() -> int:
    """Entries in the package's in-session registries, read from
    outside: catalog series, dedup persist LRU, load_table plan memo."""
    from loudml_spark import catalog
    from loudml_spark.pipeline import dedup
    from loudml_spark.sources import tables

    return (len(catalog._CACHED_SERIES) + len(dedup._PERSISTED)
            + len(tables._PLAN_MEMO))
