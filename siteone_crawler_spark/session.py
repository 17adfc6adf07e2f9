"""SparkSession factory tuned for the frontier workload.

Local mode here; the same config block is what we'd pass to spark-submit on a
real cluster (AQE + skew-join on, Arrow on, UTC timezone for oracle parity).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode analog of
    `spark-submit --py-files pkg.zip`). Without this, pandas UDFs defined here
    fail to unpickle on workers whose cwd isn't the repo root."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    marker = "_siteone_pkg_shipped"
    if getattr(spark, marker, False):
        return
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}-pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    setattr(spark, marker, True)


def _driver_memory() -> str:
    """24g, capped at half of physical memory: a heap cap above what the
    machine has never makes G1 collect before the host runs short."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "siteone_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[N]; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(cores, 32) — at cluster scale this
    would be sized to ~2-3x total executor cores instead.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 32)

    # one BLAS/OMP thread per python worker: N workers x M BLAS threads
    # oversubscribes the box quadratically and serializes the Arrow exchange
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")

    b = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # NOTE: oversized heaps anti-scale in local mode — G1 growing a 90g
        # heap under 32 allocating threads spent ~70% CPU in kernel page
        # zeroing (measured via vmstat sys%). 24g is plenty for the state
        # tables; raise via SPARK_DRIVER_MEM only for giant local joins.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _driver_memory()))
        # fewer, larger Arrow batches: less per-batch object churn in the
        # pandas-UDF exchange (GC pressure scales with task concurrency)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # state tables are many small parquet files; don't fragment scans
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # shuffle/spill to tmpfs when available: single-node disk is the one
        # resource that does NOT scale with local cores (a real cluster gets
        # per-executor local disks instead)
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
    )
    # CPU-affined process (e.g. a pinned bench child modeling an N-core
    # executor): tell the JVM how many CPUs it really has — GC/JIT/common
    # pools otherwise size by HOST cpu count (32) and thrash the small
    # affinity mask (23 G1 threads on 4 CPUs). On a real cluster the
    # container's cgroup does this for us.
    try:
        n_aff = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        n_aff = os.cpu_count() or 8
    if n_aff < (os.cpu_count() or n_aff):
        b = b.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={n_aff}",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
