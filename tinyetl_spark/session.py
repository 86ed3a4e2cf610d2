"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the sandbox (local[N], single JVM) but every knob
is the one you would set on a 1000-executor cluster too: AQE for runtime
re-planning and skew-join splitting, Arrow for vectorized Python exchange,
shuffle partitions sized to cores (overridable per job at scale).

The engine owns its Python worker daemon (``tinyetl_spark.pyworker``).
Every Python task runs ``importlib.invalidate_caches()`` while setting up
its files, and on CPython 3.11 that makes each of the 12-16 zipimporters
cached for ``$SPARK_HOME/python/lib/pyspark.zip`` (1 328 entries, 3.5 MB)
re-read the archive's whole central directory — on every task, even in a
warm, reused worker. Profiled on a 4-core VM (CPython 3.11.7, Spark 4.1):
~165 ms of a trivial task's ~215 ms CPU was in the Python workers, 91% of
the worker's ``main`` in that re-read; a 32-task identity ``mapInPandas``
took 2.3-2.6 s against 0.22 s for the same plan JVM-only, and a 32-bucket
copy-on-write merge's reduce stage was 90% non-JVM time. The daemon
re-reads an archive only when its stat signature changed; that reduce
stage went from ~4.1 s to ~1.8 s and the identity ``mapInPandas`` to
~0.85 s.

Submitted jobs (``tools/submit_cdc_job.py``, ``tools/submit_scaling.py``)
keep Spark's own daemon and the per-task cost: under spark-submit the
engine reaches executors only as a ``--py-files`` zip, which each task
adds to ``sys.path`` after its worker is forked, so a daemon that imports
``tinyetl_spark`` before the fork could not start there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else the smaller of 24g and half of
    physical memory (a 24g heap gets the JVM OOM-killed on a 16 GB host)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "24g"
    return f"{min(24 * 1024, phys // (1 << 20) // 2)}m"


def get_spark(
    app_name: str = "tinyetl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` controls local parallelism (``local[cores]``); on a real
    cluster the master URL comes from spark-submit and this arg is ignored
    by Spark. ``shuffle_partitions`` defaults to 2x cores locally; at 100 TB
    you would set it to ~2-3x total executor cores (AQE coalesces down).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    # python workers must import tinyetl_spark regardless of the caller's
    # cwd: export the repo root before the JVM/daemon starts (local mode
    # inherits the driver env) and for real executors too.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (repo_root + os.pathsep + existing
                                    if existing else repo_root)

    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the master (local-cluster[...], yarn, k8s, ...)
    # is fixed at submit time and the gateway JVM already exists —
    # PythonRunner exports PYSPARK_GATEWAY_PORT before the user script
    # runs. Overriding .master() there would silently re-point the job
    # at a single-JVM local master; honor the submitted one instead.
    # SPARK_GRAFT_MASTER overrides explicitly (tests / cluster dry-runs).
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        # get_spark launches the JVM, so the workers' PYTHONPATH (set
        # above, or spark.executorEnv below) reaches tinyetl_spark before
        # the daemon forks; see the module docstring.
        builder = builder.config("spark.python.daemon.module",
                                 "tinyetl_spark.pyworker")
    if master:
        builder = builder.master(master)
        if not master.startswith("local["):
            # multi-JVM masters (local-cluster[...] etc.) spawn executor
            # JVMs that do NOT inherit this process's env — their python
            # workers need the engine package on PYTHONPATH. spark-submit
            # deployments ship it via --py-files instead (see
            # tools/submit_cdc_job.py); this branch covers in-process
            # pseudo-cluster tests.
            builder = builder.config("spark.executorEnv.PYTHONPATH",
                                     repo_root)
    elif "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
