"""SparkSession factory tuned for the driver environment.

Local mode is a single JVM (driver-only); on a real cluster the same
configs hold, with AQE doing runtime re-planning (partition coalescing,
skew-join splitting) — the knobs that matter at 100 TB are set here once
so every operator inherits them.

localCheckpoint policy (central note, ADVICE r13): iterative and
multi-consumer operators truncate lineage with ``localCheckpoint()``
on BOUNDED intermediates.  Checkpointed blocks are executor-local and
unreplicated, so on a multi-node cluster an executor loss (or dynamic
deallocation) makes every consumer unrecoverable — acceptable on this
single-JVM target, where the "executor" dying is the application dying
anyway.  A cluster deployment would set ``spark.checkpoint.dir`` to
reliable storage and swap these call sites to ``checkpoint()`` (same
plan-truncation effect, replicated blocks), or disable dynamic
allocation for the stage; the per-operator docstrings assume this note.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores for ``local[N]`` and the default shuffle partition count:
    ``$SPARK_GRAFT_CPUS``, else the cores this process may run on (what
    ``nproc`` prints)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM``, else half of
    physical RAM in whole GiB (at least 1g, at most 48g), so a default
    heap can never grow past what the host holds."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, total // 2 // 2**30))}g"


def get_spark(
    app_name: str = "mit_6_5840_mapreduce_with_go_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes (100 TB): AQE is on so the static ``shuffle.partitions``
    only seeds the initial shuffle; runtime coalescing and skew-join
    splitting adapt it per-stage. ``maxPartitionBytes`` keeps scan tasks
    ~128 MB so a 100 TB table yields ~800k well-sized tasks rather than
    a few giant ones. Arrow is on for every pandas_udf boundary.
    """
    cores = cores or host_cpus()
    shuffle_partitions = shuffle_partitions or host_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the parquet
        # reader rejects; read as long and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python Data Source filter pushdown (zstfile absorbs
        # content_len >= X into seek-table frame pruning); Spark errors
        # on any read of a pushFilters-implementing source while this
        # is off, and the sources/zstfiles.py helpers also set it at
        # runtime for vanilla (driver-created) sessions
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
