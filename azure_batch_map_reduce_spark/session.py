"""SparkSession factory.

The reference's "session" is an Azure Batch job bound to a pool with task
dependencies enabled (``Program.cs:299-309``); here a session is a
SparkSession configured for correctness-vs-oracle (UTC timestamps, Arrow)
and for scale (AQE on, skew-join handling, sane shuffle parallelism).

Local testing runs ``local[N]`` in one JVM; the same configuration is what
we would ship to a 1000-executor cluster — partition/shuffle sizing is
driven by config, not code, so the plan shape survives the scale-up.
"""

from __future__ import annotations

import contextlib
import os
import re
import sysconfig

from pyspark.sql import SparkSession

WORKER_DAEMON_MODULE = "azure_batch_map_reduce_spark.worker_daemon"


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` to ``n`` for the scope and
    restore the previous value on exit (success AND failure paths) —
    the ONE definition of the get/set/finally pattern the iterative
    loops and streaming runs share (r14 ADVICE item 2: the repeated
    inline blocks drifted apart; this prevents that).

    ``n=None`` is a no-op scope (callers with a conditional pin keep
    one code path).

    Concurrency contract (documented where the pattern is defined, per
    the same ADVICE item): the session conf is GLOBAL to the
    SparkSession, so a scope is only sound while this session executes
    queries single-threaded — a parallel query planned inside the
    window would silently inherit the pinned value. Every harness in
    this repo (bench.py, the differential runners, the drills) runs
    queries sequentially on the session; guide §2.6 thread-pool
    overlap must NOT be combined with these scopes.
    """
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def autoscale_conf(
    max_executors: int = 5,
    min_executors: int = 0,
    idle_timeout_s: int = 60,
    backlog_timeout_s: int = 1,
) -> dict[str, str]:
    """The reference's pool-autoscale policy (L17, ``Readme.md:29-41``)
    as Spark dynamic-allocation configuration — executable, not prose.

    Reference formula → Spark mapping:

    - *target = pending-task count* (``Readme.md:35``): dynamic
      allocation requests executors to match the task backlog;
      ``executorAllocationRatio=1.0`` keeps the one-slot-per-pending-
      task shape (the reference's 1 task = 1 file = 1 node unit).
    - *15-min samples / 70% threshold* (``Readme.md:31-33``): Spark
      samples continuously instead; ``schedulerBacklogTimeout`` is the
      debounce before scale-up reacts to a backlog.
    - *pool size cap of 5* (``Readme.md:36-38``): ``maxExecutors``
      (default mirrors the reference's code constant).
    - *halve when idle* (``Readme.md:35``) and *deallocate on task
      completion* (``Readme.md:40``): ``executorIdleTimeout`` releases
      idle executors; shuffle tracking + decommission migrate shuffle
      state so release is safe without an external shuffle service.
    """
    return {
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.minExecutors": str(min_executors),
        "spark.dynamicAllocation.maxExecutors": str(max_executors),
        "spark.dynamicAllocation.executorAllocationRatio": "1.0",
        "spark.dynamicAllocation.schedulerBacklogTimeout": f"{backlog_timeout_s}s",
        "spark.dynamicAllocation.executorIdleTimeout": f"{idle_timeout_s}s",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.decommission.enabled": "true",
        "spark.storage.decommission.shuffleBlocks.enabled": "true",
    }


def worker_daemon_conf(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` for :mod:`.worker_daemon`, which
    cuts the per-task ``pyspark.zip`` re-read out of every Python worker.

    Empty unless ``master`` is ``local`` or ``local[...]``: there the
    workers run this interpreter on this host. It is also empty when the
    workers could not import this package (the daemon starts from the
    driver's working directory, ``PYTHONPATH`` and site-packages), since
    a daemon that fails to import fails every Python task.
    """
    if not re.fullmatch(r"local(\[.+\])?", master):
        return {}
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    site = sysconfig.get_paths()
    search = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    search += [site["purelib"], site["platlib"]]
    if not any(p and os.path.realpath(p) == root for p in search):
        return {}
    return {"spark.python.daemon.module": WORKER_DAEMON_MODULE}


def get_spark(
    app_name: str = "azure-batch-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    dynamic_allocation: bool = False,
    max_executors: int = 5,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults follow ``$SPARK_GRAFT_CPUS`` (driver contract) for local
    parallelism. Shuffle partitions default to the core count: at local
    test scale 200 default partitions would be pure overhead, and on a
    real cluster AQE coalesces post-shuffle partitions anyway.

    ``dynamic_allocation=True`` applies :func:`autoscale_conf` — the
    executable form of the reference's pool-autoscale formula (L17).
    Local masters have no executor-backend to scale, so the flag is
    meaningful on cluster masters; the conf set itself is unit-tested.

    Local masters also get :func:`worker_daemon_conf`; cluster masters
    keep Spark's default Python daemon.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness / oracle alignment: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-UDF path and fast toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Adaptive execution: runtime re-planning, skew-join splitting,
        # post-shuffle coalescing — the 100 TB posture is config-driven.
        .config("spark.sql.adaptive.enabled", "true")
        # events.parquet stores ns-precision timestamps, which Spark 4
        # refuses by default; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # µs timestamps with isAdjustedToUTC=false must read as plain
        # TimestampType (UTC instants), matching DuckDB's naive read —
        # not TIMESTAMP_NTZ (see catalog.normalize_event_ts).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark 4.1 refuses Python data-source readers that implement
        # pushFilters unless this is on (q428's source pushes EqualTo
        # into pyarrow); runtime-settable, also set at the call site.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Audited bounded-grain frames declare their single partition
        # with a constant key (ranks.bounded_order); this rule would
        # fold the constant away and re-trigger WindowExec's "No
        # Partition Defined" warning, erasing the signal that separates
        # documented ≤|bins|-row frames from ACCIDENTAL global windows.
        # Runtime cost of keeping the constant: none (hash of a
        # constant = the same single partition).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep broadcast threshold at default 10MB; dimension tables
        # (region/nation/supplier/part at fixture SF) broadcast freely.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Quieter, faster local runs.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback", "true")
    )
    for k, v in worker_daemon_conf(master).items():
        builder = builder.config(k, v)
    if dynamic_allocation:
        for k, v in autoscale_conf(max_executors=max_executors).items():
            builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
