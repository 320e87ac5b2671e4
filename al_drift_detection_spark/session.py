"""SparkSession factory with scale-aware defaults.

The reference is a single-process pandas pipeline (SURVEY.md §3.1: "no
distribution anywhere"); here every knob is set for a multi-executor cluster
and merely *tested* on local[N]:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing),
- Arrow on (vectorized pandas UDF transfer),
- UTC session timezone (oracle/DuckDB comparability),
- a fresh Python worker per task; on a local master it forks from a
  daemon that has already imported pandas and pyarrow (worker_daemon.py),
  so no UDF task pays the library import,
- shuffle partitions sized to the local core count (overridden on a real
  cluster to ~2-3x total executor cores via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "al_drift_detection_spark.worker_daemon"


def get_spark(
    app_name: str = "al-drift-detection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` so the bench harness can
    pin parallelism levels for the two-cluster-size scaling measurement
    (north_rule: N vs 4N executors → local[8] vs local[32]); unset, it is the
    number of CPUs this process may run on. The driver heap is
    ``$SPARK_DRIVER_MEM``, unset min(16g, half the host's physical memory).
    """
    # one BLAS thread per Python worker: with N parallel pandas-UDF workers,
    # multi-threaded OpenBLAS/OMP inside each oversubscribes N×threads and
    # THRASHES (measured: drift kernels stopped scaling past 8 cores).
    # Parallelism belongs to Spark tasks, not library threads.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # make the engine importable in executor Python workers regardless of the
    # driver's cwd — the local-mode analog of `spark-submit --py-files
    # engine.zip` (workers inherit PYTHONPATH, not the driver's sys.path)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{min(16 * 1024, phys_mb // 2)}m"
    if shuffle_partitions is None:
        # ~1x core count locally; a real cluster submit overrides this.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # at most 16g + ParallelGC, NOT bigger: on this workload (wide binary
        # rows through pandas UDFs) a 32-64g G1 heap degrades every job after
        # the first ~10x (measured 18s → 124s; task metrics showed 45x GC
        # time). Throughput GC + a bounded heap stays flat across repeated
        # jobs. Half the host's memory caps it on small hosts.
        .config("spark.driver.memory", heap)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # fresh Python worker per task: with this pyspark's reused-worker
        # pool, any pandas-UDF job following another ran 3-7x slower with
        # idle CPUs (measured 12s → 89s); daemon forks are cheap and flat.
        .config("spark.python.worker.reuse", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # trust SORTED BY of single-file-per-bucket tables (off by default
        # since 3.0): without it every bucketed join re-sorts blob rows per
        # task and spills under high task concurrency
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    if master.startswith("local"):
        # the daemon forks those fresh workers warm: worker_daemon imports
        # pandas and pyarrow once, so a worker's CPU before its UDF runs
        # fell from 0.24 s to 0.13 s and a 40-task mapInPandas job from
        # 5.7-5.9 s to 2.0-2.4 s (median CPU; local[4] on a 4-vCPU host).
        # Local executors inherit the PYTHONPATH set above, so the module
        # imports there. A cluster executor starts its daemon before any
        # --py-files archive is on its path, so it keeps pyspark.daemon
        # (a submit that puts the engine on spark.executorEnv.PYTHONPATH
        # can set this conf itself)
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
