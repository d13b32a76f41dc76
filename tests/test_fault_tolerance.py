"""Crash-recovery parity (src/mrapps/crash.go + test-mr.sh:283-330): the
reference kills ~1/3 of workers mid-task and requires final output to
equal the no-fault golden run. Spark analog: deterministic task-failure
injection (first attempt of selected partitions raises), task retry
re-executes, output must equal the clean run.

Needs master local[8,4] (maxFailures=4), so this module manages its own
SparkSession lifecycle. Crash closures are defined inside the tests so
cloudpickle ships them by value (test modules aren't importable on
executors).
"""

from __future__ import annotations

import pytest
from pyspark import TaskContext
from pyspark.sql import SparkSession

from mit_6_5840_mapreduce_with_go_spark.mapreduce import (
    run_mapreduce,
    run_mapreduce_sequential,
)
from mit_6_5840_mapreduce_with_go_spark.mapreduce.apps import wc_map, wc_reduce

FILES = [(f"f{i}", ("alpha beta gamma delta " * (i + 1)).strip()) for i in range(9)]


@pytest.fixture(scope="module")
def retry_spark():
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = (
        SparkSession.builder.master("local[8,4]")
        .appName("fault_tolerance")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def test_output_unchanged_under_task_crashes(retry_spark):
    def crashing_wc_map(filename: str, contents: str):
        # ~1/3 of map tasks die on first attempt (crash.go:20-32 analog)
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and sum(map(ord, filename)) % 3 == 0:
            raise RuntimeError(f"injected crash in map({filename})")
        return wc_map(filename, contents)

    golden = run_mapreduce_sequential(wc_map, wc_reduce, FILES)
    got = run_mapreduce(retry_spark, crashing_wc_map, wc_reduce, FILES)
    assert got == golden


def test_reduce_crash_recovery(retry_spark):
    def crashing_reduce(key: str, values: list[str]) -> str:
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and sum(map(ord, key)) % 3 == 0:
            raise RuntimeError(f"injected crash in reduce({key})")
        return wc_reduce(key, values)

    golden = run_mapreduce_sequential(wc_map, wc_reduce, FILES)
    got = run_mapreduce(retry_spark, wc_map, crashing_reduce, FILES)
    assert got == golden


def test_gutenberg_wc_distributed_end_to_end_with_crashes(
    retry_spark, tmp_path, text_corpus
):
    """The zero-driver-materialization parity path: the 8-book corpus
    (the reference's books, or their generated stand-in) flows
    wholetext-source -> map -> FNV-partitioned groupByKey -> text sink
    entirely in executor tasks (the driver never
    holds a byte of book content), with ~1/3 of map tasks crashing on
    first attempt. Output line set must equal the sequential golden run
    (mrsequential.go semantics)."""
    import glob as _glob
    import os

    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir

    files = sorted(_glob.glob(text_corpus))
    assert len(files) == 8, "text corpus not found"

    def crashing_wc_map(filename: str, contents: str):
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and sum(map(ord, filename)) % 3 == 0:
            raise RuntimeError(f"injected crash in map({filename})")
        return wc_map(filename, contents)

    out_dir = str(tmp_path / "mr-out")
    run_mapreduce_to_dir(
        retry_spark, crashing_wc_map, wc_reduce, text_corpus, out_dir, n_reduce=10
    )
    got = []
    for part in sorted(os.listdir(out_dir)):
        if not part.startswith("part-"):
            continue
        with open(os.path.join(out_dir, part), encoding="utf-8") as fh:
            got.extend(line.rstrip("\n") for line in fh if line.strip())
    golden_inputs = []
    for p in files:
        with open(p, encoding="utf-8", errors="replace") as fh:
            golden_inputs.append((os.path.basename(p), fh.read()))
    golden = run_mapreduce_sequential(wc_map, wc_reduce, golden_inputs)
    assert sorted(got) == golden


def test_wholetext_glob_path_matches_iterable_path(retry_spark, tmp_path):
    """run_mapreduce_to_dir(glob) == run_mapreduce_to_dir(iterable) on
    the same files — the connector-fed path is a drop-in."""
    import os

    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    pairs = []
    for i in range(5):
        body = f"alpha beta gamma {'delta ' * (i + 1)}".strip()
        (data_dir / f"f{i}.txt").write_text(body, encoding="utf-8")
        pairs.append((f"f{i}.txt", body))

    def read_out(d):
        lines = []
        for part in sorted(os.listdir(d)):
            if part.startswith("part-"):
                with open(os.path.join(d, part), encoding="utf-8") as fh:
                    lines.extend(ln.rstrip("\n") for ln in fh if ln.strip())
        return sorted(lines)

    d1, d2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    run_mapreduce_to_dir(retry_spark, wc_map, wc_reduce, str(data_dir / "*.txt"), d1)
    run_mapreduce_to_dir(retry_spark, wc_map, wc_reduce, pairs, d2)
    assert read_out(d1) == read_out(d2) == run_mapreduce_sequential(wc_map, wc_reduce, pairs)
