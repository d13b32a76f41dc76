"""PySpark's worker daemon, with its import-time heap frozen before the
first fork (``spark.python.daemon.module``, set by ``session.get_spark``).

PySpark's daemon runs ``gc.collect()`` in a worker after every task, and
a full collection walks every tracked object: with ``pyspark.worker``
and the package loaded that took 16 ms in a task on a 4-core host, 37 ms
once pandas and pyarrow are loaded, and 0.2 ms with this heap frozen.
Importing the worker and this package here (its ``_pyworker`` patch
included), then ``gc.freeze()``, moves all of it to the permanent
generation that forked workers inherit, so a per-task collection scans
only what the task itself allocated.
"""

import gc

import pyspark.worker  # noqa: F401  (what every forked worker runs)
from pyspark import daemon

import mit_6_5840_mapreduce_with_go_spark  # noqa: F401  (installs _pyworker)

gc.collect()
gc.freeze()

if __name__ == "__main__":
    daemon.manager()
