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

Python workers.  A PySpark job this small (the paper's MapReduce jobs:
8 map and 10 reduce Python tasks) is bound by the fixed cost of each
Python task, not by its map or reduce calls, so the session removes
the two worker-layer costs it can:

- Unix domain sockets (``spark.python.unix.domain.socket.enabled``)
  between the JVM and its Python daemon, workers and accumulator
  server, instead of loopback TCP.
- The package's own daemon (``spark.python.daemon.module``,
  ``_daemon.py``): it imports ``pyspark.worker`` and the package, then
  ``gc.freeze()``s that heap before it forks any worker.  PySpark's
  daemon runs a full ``gc.collect()`` after every task, and without the
  freeze each one walks the whole import-time heap (16 ms in a task
  here, 37 ms once pandas and pyarrow are loaded; 0.2 ms frozen).

On 4 cores, 64 trivial tasks took 15.6 ms each with neither, 10.0 ms
with the sockets alone, 13.8 ms with the daemon alone and 4.4 ms with
both; an empty 8 map + 10 reduce job, 0.40 s and 0.18 s.

The socket files live in ``spark.python.unix.domain.socket.dir`` if set,
else in the driver JVM's ``java.io.tmpdir``, as ``.<uuid>.sock``: 43
bytes after the directory.  Linux caps a socket path at 107 bytes, so
``get_spark`` refuses a directory longer than 64 bytes with an error
that names it (there is no TCP fallback).  Spark removes each file when
its server closes, except the driver's accumulator socket, which only
``SparkContext.stop()`` removes; ``get_spark`` also removes it when the
interpreter exits, for drivers that never call ``stop()``.

The daemon is started as ``python -m <module>``, so the package must be
importable by workers whatever the driver's working directory:
``get_spark`` prepends the package's parent directory to
``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import atexit
import contextlib
import errno
import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# the directory holding this package, for the Python workers' sys.path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Linux's sun_path holds 108 bytes with the terminating NUL; Spark names
# each socket "<dir>/.<uuid4>.sock", 43 bytes after the directory
_MAX_SOCKET_PATH = 107
_SOCKET_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")
# accumulator sockets of the sessions built here, removed at exit
_accumulator_sockets: set[str] = set()


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


def check_socket_dir(directory: str) -> None:
    """Raise ``OSError(ENAMETOOLONG)`` naming ``directory`` if a Spark
    socket ``<directory>/.<uuid>.sock`` would pass Linux's 107-byte limit."""
    length = len(os.fsencode(directory.rstrip("/"))) + _SOCKET_NAME_LEN
    if length > _MAX_SOCKET_PATH:
        raise OSError(
            errno.ENAMETOOLONG,
            f"Unix socket paths in this directory take {length} bytes, over Linux's "
            f"{_MAX_SOCKET_PATH}; point java.io.tmpdir (or "
            f"spark.python.unix.domain.socket.dir) at a directory of at most "
            f"{_MAX_SOCKET_PATH - _SOCKET_NAME_LEN} bytes",
            directory,
        )


@atexit.register
def _remove_accumulator_sockets() -> None:
    for path in _accumulator_sockets:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


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
    extra = dict(extra_conf or {})
    worker_path = [_PACKAGE_PARENT, extra.pop("spark.executorEnv.PYTHONPATH", "")]
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.driver.memory": driver_memory(),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # testdata events.parquet stores TIMESTAMP(NANOS) which the parquet
        # reader rejects; read as long and convert in sources/tables.py
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Python Data Source filter pushdown (zstfile absorbs
        # content_len >= X into seek-table frame pruning); Spark errors
        # on any read of a pushFilters-implementing source while this
        # is off, and the sources/zstfiles.py helpers also set it at
        # runtime for vanilla (driver-created) sessions
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
        # Python workers: Unix sockets, forked from a frozen-heap daemon
        # that can import this package from any working directory
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.daemon.module": f"{__package__}._daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in worker_path if p),
        **extra,
    }
    # Launch the JVM first (getOrCreate reuses it): the sockets live in
    # its java.io.tmpdir, and a too-long one must fail here, naming the
    # directory, not as a bare "AF_UNIX path too long" inside SparkContext
    spark_conf = SparkConf(loadDefaults=False).setAll(conf.items())
    SparkContext._ensure_initialized(conf=spark_conf)
    check_socket_dir(
        conf.get("spark.python.unix.domain.socket.dir")
        or SparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")
    )
    spark = SparkSession.builder.config(conf=spark_conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    address = getattr(spark.sparkContext._accumulatorServer, "server_address", None)
    if isinstance(address, str):
        _accumulator_sockets.add(address)
    return spark
