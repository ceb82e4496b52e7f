"""SparkSession bootstrap (reference: preprocess.py:14-28 `createSpark`).

The reference calls ``SparkSession.builder.getOrCreate()`` with defaults.
Here we set scale-aware defaults: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow on (vectorized pandas UDF
transfer), and a shuffle-partition count sized to the local harness
(on a real cluster this is overridden by the deploy config / AQE).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# spark.scheduler.mode=FAIR alone is not enough for the overlap the
# grid runner wants: jobs land in the 'default' pool, and WITHIN a pool
# scheduling stays FIFO unless an allocation file marks the pool FAIR.
# Ship a minimal allocation file making the default pool itself FAIR so
# concurrent grid-cell jobs share executors without every caller having
# to setLocalProperty a distinct pool per thread.
_FAIR_POOLS_XML = """<?xml version="1.0"?>
<allocations>
  <pool name="default">
    <schedulingMode>FAIR</schedulingMode>
    <weight>1</weight>
    <minShare>0</minShare>
  </pool>
</allocations>
"""


def _fair_pools_file() -> str:
    path = os.path.join(tempfile.gettempdir(), "clustering_spark_fair_pools.xml")
    try:
        with open(path, "w") as f:
            f.write(_FAIR_POOLS_XML)
    except OSError:
        return ""  # scheduling degrades to FIFO-within-pool; not fatal
    return path


def _default_master() -> str | None:
    """The master to use when the caller passed none and SPARK_MASTER
    is unset. Under spark-submit / pyspark-shell the JVM gateway
    already exists (PYSPARK_GATEWAY_PORT is exported to this process)
    and spark.master was set by the launcher — forcing local[N] there
    would silently drag a cluster job onto the driver node. Only a
    plain-python launch (no gateway yet) gets the local default."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    return f"local[{DEFAULT_CPUS}]"


def get_spark(
    app_name: str = "clustering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    Defaults assume the test harness (``local[$SPARK_GRAFT_CPUS]``).
    On a cluster, pass ``master=None`` with a pre-configured environment
    and these conf keys act as overridable baselines only.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else DEFAULT_CPUS),
        )
        # one physical scan per parquet file at harness scale; on a real
        # cluster files are larger and this default (128m) self-adjusts.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # overlapping independent jobs (grid cells) share the session
        # fairly instead of FIFO-starving each other (SURVEY §2.10);
        # the allocation file marks the default pool FAIR — the mode
        # alone only governs scheduling BETWEEN pools.
        .config("spark.scheduler.mode", "FAIR")
        # declared SESSION-WIDE default, not an ambient mutation: the
        # test-data generator has shipped events.ts as TIMESTAMP(NANOS)
        # in some rounds, which Spark only reads with this legacy flag.
        # It is a no-op for µs timestamps, so it is safe globally; event
        # readers (queries._with_ts_utc / _events_stream) still set it
        # idempotently for sessions not built through get_spark.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Pin BLAS pools inside PYTHON WORKERS to 1 thread (overridable):
    # Spark already runs one task per core, so a per-task numpy GEMM
    # that spawns an N-core OpenBLAS pool oversubscribes the box N× —
    # 32 concurrent Arrow tasks × 32 BLAS threads = 1024 runnable
    # threads thrashing every dense kernel (bitmap/cosine all-pairs,
    # LSH banding, cluster fits, tuner sweeps). PySpark ships
    # spark.executorEnv.* to its UDF workers in every deploy mode
    # (SparkContext.environment), so this stays correct on a real
    # cluster: tasks-per-executor = cores there too. The DRIVER process
    # is deliberately untouched — driver-side numpy (bench calibration,
    # bounded collect kernels) keeps the full machine.
    # One rule for all three variables: SPARK_GRAFT_WORKER_BLAS_THREADS
    # if set, else 1. A value exported for the driver process (say, an
    # OMP_NUM_THREADS from a shell profile) is not inherited, so no
    # ambient setting can leave the pin half applied.
    blas_threads = os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS") or "1"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", blas_threads)
    pools = _fair_pools_file()
    if pools:
        builder = builder.config("spark.scheduler.allocation.file", pools)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        # pass the env value THROUGH: Spark does not read SPARK_MASTER
        # itself for plain-python apps, so treating it as a presence
        # sentinel left the builder masterless ('A master URL must be
        # set') outside spark-submit
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        default = _default_master()
        if default is not None:
            builder = builder.master(default)
        # else: launched via spark-submit/pyspark — the launcher's
        # spark.master governs; overriding it here would silently run
        # the whole job in local mode on the driver node
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
