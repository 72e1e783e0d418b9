"""SparkSession factory tuned for the crawl-frontier engine.

Local sandbox runs single-JVM ``local[N]``; production target is a
multi-executor cluster (``spark-submit --py-files``) — every config here is
chosen to survive that move: AQE on (runtime re-plan + skew-join splitting),
shuffle partitions sized to cores not the 200 default, Arrow enabled for the
vectorized-UDF hot paths, UTC session time zone for deterministic timestamp
semantics (the reference stamps wall-clock `DateTime.now()` at store time,
ElasticStoreQueries.scala:46,73 — we instead thread an explicit ``batch_ts``
through jobs so replays are byte-identical).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _scrub_stale(local_dir: str, max_age_s: float) -> None:
    """tmpfs scratch is RAM: a JVM killed mid-run leaves its blockmgr/spark
    dirs behind, and on /dev/shm that debris holds memory. A live Spark app
    touches its dirs continuously, so anything untouched for max_age_s is
    orphaned — remove it at session build."""
    import shutil
    import time

    if not os.path.isdir(local_dir):
        return
    now = time.time()
    for entry in os.listdir(local_dir):
        p = os.path.join(local_dir, entry)
        try:
            if now - os.path.getmtime(p) > max_age_s:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def get_spark(
    app_name: str = "delphi_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` maps to ``local[cores]`` in the sandbox; on a real cluster the
    master URL comes from spark-submit and this argument is ignored by Spark.
    ``shuffle_partitions`` defaults to 2x cores — small enough to avoid tiny
    empty tasks at test scale, and AQE coalesces further at runtime; at
    100 TB the same code runs with a larger explicit setting (AQE's
    ``advisoryPartitionSizeInBytes`` keeps post-shuffle partitions bounded).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(8, cores * 2)
    # Master override for multi-JVM topologies: the executor-count scaling
    # probe sets SPARK_GRAFT_MASTER=local-cluster[N,C,mem] (separate executor
    # JVMs — the closest this sandbox gets to N vs 4N executors); a real
    # deployment sets it (or uses spark-submit, which wins over builder conf).
    # ``cores`` keeps sizing shuffle partitions as TOTAL cores either way.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    # shuffle/spill scratch on tmpfs when available: the sandbox's /tmp sits
    # on a shared disk with bursty neighbor I/O (observed iowait spikes
    # slowing identical CPU-bound plans >10x); RAM-backed local dirs remove
    # that variance. Production analogue: NVMe/ramdisk shuffle volumes.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
        _scrub_stale(local_dir, max_age_s=2 * 3600)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master.startswith("local-cluster"):
        # Executor JVMs are separate processes: their python workers must
        # import this package by module path (cloudpickle serializes UDFs by
        # reference), and executor memory must fit inside the per-worker cap
        # from the master string. Production uses --py-files instead.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.executor.memory",
                    os.environ.get("SPARK_EXECUTOR_MEM", "4g"))
        )
        # Worker JVMs ignore spark.local.dir (cluster manager precedence);
        # they honor SPARK_LOCAL_DIRS, inherited through the driver JVM env
        # (must be set before the JVM launches, i.e. before getOrCreate).
        if local_dir and "SPARK_LOCAL_DIRS" not in os.environ:
            os.environ["SPARK_LOCAL_DIRS"] = local_dir
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
