"""Generic MapReduce surface — the reference engine's entire user API,
re-expressed on Spark RDDs.

Reference contract (src/mr/worker.go):
- ``Map: (filename, contents) -> [](key, value)``  — a flatMap/UDTF
  (invocation: src/mr/worker.go:97; plugin load src/main/mrworker.go:32-49)
- ``Reduce: (key, [values]) -> value``  — a GATHER-ALL aggregate: the
  engine collects every value of a key into one list and calls reduce
  once (src/mr/worker.go:186-209). Reduce need NOT be associative or
  commutative, so the implementation must use groupByKey, never
  reduceByKey/combineByKey (SURVEY.md §4.3.1).
- keys route to reduce partitions via ``fnv32a(key) % nReduce``
  (src/mr/worker.go:28-34,104-107); output is text lines ``"%v %v"``
  (src/mr/worker.go:206).

Everything the reference engine hand-rolls around this contract —
2-phase barrier (coordinator.go:59,78-79), 10s straggler reassignment
(coordinator.go:66-71), atomic temp-file+rename commit
(worker.go:136-144), idempotent completion (coordinator.go:149,154) —
is supplied by Spark's DAG scheduler, task retry/speculation, and
output committer; no user code needed (SURVEY.md §2.A).

Scale note (100 TB): the gather-all contract concentrates each key's
full value list on one task — a hot key (e.g. stop-words under wc's
map) can OOM a reducer. ``run_mapreduce`` therefore accepts
``combine_fn`` (a merge of two values) for apps whose reduce is a proper
monoid; that path uses map-side combining (``reduceByKey``) and is the
one to use at scale. The default path preserves exact reference
semantics.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable, Iterable

from pyspark import RDD
from pyspark.sql import SparkSession

from ..functions.hashing import fnv32a_py

MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


def fnv32a(key: str) -> int:
    """FNV-32a hash, masked positive — exact parity with the reference's
    ihash (src/mr/worker.go:28-34). Tests never assert bucket placement,
    only merged output (src/main/test-mr.sh:103-104), but parity is cheap."""
    return fnv32a_py(key) & 0x7FFFFFFF


def run_mapreduce(
    spark: SparkSession,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    inputs: Iterable[tuple[str, str]],
    n_reduce: int = 10,
    combine_fn: Callable[[str, str], str] | None = None,
) -> list[str]:
    """Run a MapReduce job; returns the sorted output lines ``"key value"``.

    ``inputs`` is an iterable of (filename, contents) — one map task per
    file, mirroring src/mr/coordinator.go:202-207. ``n_reduce`` defaults
    to the reference driver's hardcoded 10 (src/main/mrcoordinator.go:23).

    ``combine_fn``, if given, declares the app's reduce a monoid merge of
    two values; the job then uses reduceByKey (map-side combine, bounded
    reducer memory — the 100 TB-safe path) and ``reduce_fn`` is never
    called. Without it, exact reference semantics: groupByKey gathers the
    complete value list per key, then one ``reduce_fn`` call.

    The comparison contract is the sorted line SET (the reference test
    does ``sort mr-out* | grep .`` before cmp — test-mr.sh:103-110), so we
    return sorted lines rather than R separate files.
    """
    rdd = _file_rdd(spark, inputs)
    return sorted(_job_lines(rdd, map_fn, reduce_fn, n_reduce, combine_fn).collect())


def run_mapreduce_to_dir(
    spark: SparkSession,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    inputs: Iterable[tuple[str, str]] | str,
    out_dir: str,
    n_reduce: int = 10,
) -> None:
    """Distributed-output variant: same job, but results land as text
    files via the committer protocol instead of collect() — the form that
    scales (collect() of a 100 TB job's output is the anti-pattern;
    ``run_mapreduce`` keeps it only because the reference contract is
    compared as an in-memory sorted line set).

    ``inputs`` may be an iterable of (filename, contents) pairs, or a
    PATH GLOB string. The glob expands on the driver and only the sorted
    file PATHS cross it: one partition per path is one map task per file
    (the reference's map-task granularity), and each map task reads its
    own file (basename, ``utf-8`` with ``errors="replace"``, as the
    ``wholetext`` source does), so input, shuffle, and output are all
    distributed, the end-to-end 100 TB-safe parity path. It does not go
    through the ``wholetext`` Python Data Source and ``.rdd``: that loads
    pandas and pyarrow into every Python worker for a file read (workers'
    peak RSS 1.2 GB against 0.27 GB on perfbench's 8-file corpus)."""
    if isinstance(inputs, str):
        files = sorted(glob.glob(inputs))
        if not files:
            raise FileNotFoundError(f"no files match {inputs!r}")
        rdd = _file_rdd(spark, files).map(_read_file)
    else:
        rdd = _file_rdd(spark, inputs)
    _job_lines(rdd, map_fn, reduce_fn, n_reduce).saveAsTextFile(out_dir)


def _read_file(path: str) -> tuple[str, str]:
    with open(path, encoding="utf-8", errors="replace") as fh:
        return os.path.basename(path), fh.read()


def _file_rdd(spark: SparkSession, inputs: Iterable[tuple[str, str]] | Iterable[str]) -> RDD:
    # One partition per input file (a (filename, contents) pair or a
    # path) = one map task per file (reference granularity). At real
    # scale you'd let Spark split by bytes instead.
    files = list(inputs)
    return spark.sparkContext.parallelize(files, numSlices=max(1, len(files)))


def _job_lines(
    rdd: RDD,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    n_reduce: int,
    combine_fn: Callable[[str, str], str] | None = None,
) -> RDD:
    """The job itself over a (filename, contents) RDD: map, route keys
    by ``fnv32a % n_reduce``, gather-all reduce (or the combiner's
    map-side merge), one ``"%v %v"`` line per key."""
    pairs = rdd.flatMap(lambda fc: map_fn(fc[0], fc[1]))
    if combine_fn is not None:
        return pairs.reduceByKey(combine_fn, numPartitions=n_reduce, partitionFunc=fnv32a).map(
            lambda kv: f"{kv[0]} {kv[1]}"
        )
    grouped = pairs.groupByKey(numPartitions=n_reduce, partitionFunc=fnv32a)
    return grouped.map(lambda kv: f"{kv[0]} {reduce_fn(kv[0], list(kv[1]))}")


def run_mapreduce_sequential(
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    inputs: Iterable[tuple[str, str]],
) -> list[str]:
    """Single-threaded golden oracle — mirrors mrsequential.go exactly:
    append all map output (src/main/mrsequential.go:38-51), global sort by
    key (:59), linear group scan calling reduce per key (:66-84)."""
    intermediate: list[tuple[str, str]] = []
    for filename, contents in inputs:
        intermediate.extend(map_fn(filename, contents))
    intermediate.sort(key=lambda kv: kv[0])
    lines: list[str] = []
    i = 0
    while i < len(intermediate):
        j = i
        while j < len(intermediate) and intermediate[j][0] == intermediate[i][0]:
            j += 1
        values = [kv[1] for kv in intermediate[i:j]]
        lines.append(f"{intermediate[i][0]} {reduce_fn(intermediate[i][0], values)}")
        i = j
    return sorted(lines)
