"""Differential tests for the generic MapReduce surface — mirrors the
reference's test strategy (src/main/test-mr.sh): distributed output must
equal the sequential oracle's (mrsequential.go), compared as sorted line
sets (test-mr.sh:103-110)."""

from __future__ import annotations

from pyspark import SparkContext

from mit_6_5840_mapreduce_with_go_spark.mapreduce import (
    fnv32a,
    run_mapreduce,
    run_mapreduce_sequential,
)
from mit_6_5840_mapreduce_with_go_spark.mapreduce.engine import run_mapreduce_to_dir
from mit_6_5840_mapreduce_with_go_spark.mapreduce.apps import (
    documents_as_files,
    early_exit_map,
    early_exit_reduce,
    indexer_map,
    indexer_reduce,
    jobcount_map,
    jobcount_reduce,
    nocrash_map,
    nocrash_reduce,
    tokenize,
    wc_combine,
    wc_map,
    wc_reduce,
)

FILES = [
    ("doc-a", "the quick brown fox the fox"),
    ("doc-b", "jumps over the lazy dog"),
    ("doc-c", "the dog barks. The fox runs!"),
    ("doc-d", ""),
]


def test_tokenize_parity():
    # case-sensitive, unicode letters only (src/mrapps/wc.go:19-24)
    assert tokenize("The fox-dog ran 42 laps; héllo_wörld") == [
        "The", "fox", "dog", "ran", "laps", "héllo", "wörld",
    ]


def test_wc_differential(spark):
    got = run_mapreduce(spark, wc_map, wc_reduce, FILES)
    want = run_mapreduce_sequential(wc_map, wc_reduce, FILES)
    assert got == want
    assert "the 4" in got  # case-sensitive: 'The' counted separately
    assert "The 1" in got


def test_wc_combine_fast_path_same_output(spark):
    slow = run_mapreduce(spark, wc_map, wc_reduce, FILES)
    fast = run_mapreduce(spark, wc_map, wc_reduce, FILES, combine_fn=wc_combine)
    assert fast == slow


def test_indexer_differential(spark):
    got = run_mapreduce(spark, indexer_map, indexer_reduce, FILES)
    want = run_mapreduce_sequential(indexer_map, indexer_reduce, FILES)
    assert got == want
    # 'fox' appears in doc-a and doc-c exactly once each (dedup per doc)
    assert "fox 2 doc-a,doc-c" in got


def test_nocrash_differential(spark):
    got = run_mapreduce(spark, nocrash_map, nocrash_reduce, FILES)
    want = run_mapreduce_sequential(nocrash_map, nocrash_reduce, FILES)
    assert got == want
    assert any(line.startswith("d xyzzy") for line in got)


def test_early_exit_differential(spark):
    got = run_mapreduce(spark, early_exit_map, early_exit_reduce, FILES)
    want = run_mapreduce_sequential(early_exit_map, early_exit_reduce, FILES)
    assert got == want


def test_jobcount_exactly_once(spark):
    """jobcount parity (src/mrapps/jobcount.go + test-mr.sh:213-221): with
    no failures each map task runs exactly once — counted via accumulator
    instead of the reference's pid marker files."""
    sc: SparkContext = spark.sparkContext
    acc = sc.accumulator(0)

    def counting_map(f: str, c: str):
        acc.add(1)
        return jobcount_map(f, c)

    out = run_mapreduce(spark, counting_map, jobcount_reduce, FILES)
    assert acc.value == len(FILES)
    assert out == [f"a {len(FILES)}"]


def test_parallelism_probe(spark):
    """mtiming/rtiming analog: the job must actually run with >= 2
    concurrent task slots (reference asserts >= 2 workers alive,
    src/mrapps/mtiming.go)."""
    assert spark.sparkContext.defaultParallelism >= 2
    dist = spark.sparkContext.parallelize(range(100), 8).map(
        lambda _: __import__("pyspark").TaskContext.get().partitionId()
    ).distinct().count()
    assert dist >= 2


def test_fnv32a_golden():
    # FNV-32a reference vectors (public: RFC draft / fnv.h test suite)
    assert fnv32a("") == 2166136261 & 0x7FFFFFFF
    h = 2166136261
    for b in b"a":
        h ^= b
        h = (h * 16777619) & 0xFFFFFFFF
    assert fnv32a("a") == h & 0x7FFFFFFF


def test_workers_share_zip_directory_reads(spark):
    """PySpark's worker calls importlib.invalidate_caches() before every
    task; with pyspark imported from pyspark.zip that re-read the archive
    once per zipimporter (~0.25 s CPU a task). The package's shared-read
    patch is installed in every worker (by the package daemon here; on a
    vanilla session, by unpickling a closure that references the
    package), so a repeated invalidate_caches() in that worker reads
    nothing, and MapReduce output is unchanged."""
    import random
    import sys

    patched = sys.version_info < (3, 13)

    def probe(i: int):
        import importlib
        import os
        import zipimport

        fnv32a(str(i))  # the closure references the package
        real = zipimport._read_directory
        reads: list[str] = []

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        archives = {
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }
        owner = zipimport.zipimporter.invalidate_caches.__module__
        return os.getpid(), owner, first, len(reads) - first, len(archives)

    got = spark.sparkContext.parallelize(range(12), 12).map(probe).collect()
    assert len(got) == 12
    for pid, owner, first, second, n_archives in got:
        if patched:
            assert owner == "mit_6_5840_mapreduce_with_go_spark._pyworker", pid
            assert first <= n_archives and second == 0, (pid, first, second)
        else:
            assert owner == "zipimport", pid

    rng = random.Random(5840)
    vocab = ["map", "Reduce", "shuffle", "fnv", "the", "ключ", "worker"]
    files = [
        (f"doc-{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(12)
    ]
    for map_fn, reduce_fn in [(wc_map, wc_reduce), (indexer_map, indexer_reduce)]:
        got_lines = run_mapreduce(spark, map_fn, reduce_fn, files)
        assert got_lines == run_mapreduce_sequential(map_fn, reduce_fn, files)


def test_to_dir_output_matches_collect(spark, tmp_path):
    """Distributed text-file output == in-memory lines (sorted-set
    compare, the test-mr.sh contract); files land under nReduce parts."""
    out = str(tmp_path / "mr-out")
    run_mapreduce_to_dir(spark, wc_map, wc_reduce, FILES, out)
    from_files = sorted(
        line
        for p in __import__("pathlib").Path(out).glob("part-*")
        for line in p.read_text().splitlines()
    )
    assert from_files == run_mapreduce(spark, wc_map, wc_reduce, FILES)


def _write_files(directory, files) -> str:
    for name, text in files:
        (directory / f"{name}.txt").write_text(text, encoding="utf-8")
    return str(directory / "*.txt")


def _dir_lines(out) -> list[str]:
    import pathlib

    return sorted(
        line for p in pathlib.Path(out).glob("part-*") for line in p.read_text().splitlines()
    )


def test_to_dir_glob_matches_iterable_and_sequential(spark, tmp_path):
    """The glob path ships only paths and reads each file in its map
    task: output equals the (filename, contents) iterable path and the
    sequential oracle over the same (basename, text) pairs, and the map
    stage runs exactly one task per file."""
    files = [(f"doc-{i}", text) for i, (_, text) in enumerate(FILES)]
    (tmp_path / "in").mkdir()
    pattern = _write_files(tmp_path / "in", files)
    named = [(f"{name}.txt", text) for name, text in files]
    sc: SparkContext = spark.sparkContext
    group = "test_to_dir_glob_tasks"
    sc.setJobGroup(group, "run_mapreduce_to_dir over a glob")
    try:
        run_mapreduce_to_dir(spark, indexer_map, indexer_reduce, pattern, str(tmp_path / "glob"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    run_mapreduce_to_dir(spark, indexer_map, indexer_reduce, named, str(tmp_path / "iter"))
    got = _dir_lines(tmp_path / "glob")
    assert got == _dir_lines(tmp_path / "iter")
    assert got == run_mapreduce_sequential(indexer_map, indexer_reduce, named)
    assert "fox 2 doc-0.txt,doc-2.txt" in got

    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup(group)
    tasks = sorted(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(job).stageIds)
    assert tasks == [len(files), 10]  # map: one task per file; reduce: n_reduce


def test_to_dir_glob_without_match_raises(spark, tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError, match="no files match"):
        run_mapreduce_to_dir(
            spark, wc_map, wc_reduce, str(tmp_path / "none-*.txt"), str(tmp_path / "out")
        )
    assert not (tmp_path / "out").exists()


def test_to_dir_glob_decodes_like_wholetext(spark, tmp_path):
    """A file with invalid UTF-8 reads as the wholetext source reads it
    (errors="replace"), so the indexer keys match the source's words."""
    from mit_6_5840_mapreduce_with_go_spark.sources import read_whole_text_source

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "bad.txt").write_bytes(b"caf\xc3\xa9 ok\xff\xfeok \xe2\x82 end\n")
    (tmp_path / "in" / "good.txt").write_bytes("naïve café\n".encode())
    pattern = str(tmp_path / "in" / "*.txt")
    source = [(r["file"], r["content"]) for r in read_whole_text_source(spark, pattern).collect()]
    assert "\ufffd" in dict(source)["bad.txt"]

    run_mapreduce_to_dir(spark, indexer_map, indexer_reduce, pattern, str(tmp_path / "out"))
    got = _dir_lines(tmp_path / "out")
    assert got == run_mapreduce_sequential(indexer_map, indexer_reduce, source)
    assert "café 2 bad.txt,good.txt" in got


def test_randomized_corpus_differential(spark):
    """Seeded random corpus (mixed case, unicode letters, punctuation,
    digits, empty docs): distributed output == sequential oracle for all
    three data apps — the test-mr-many.sh flake-sweep analog, determinized."""
    import random

    rng = random.Random(1234)
    vocab = ["Alpha", "beta", "Gamma", "δέλτα", "epsilon-7", "zeta_9", "η", "THE", "the"]
    seps = [" ", "  ", ", ", ".\n", "42", "_", "--"]
    files = []
    for i in range(24):
        n = rng.randint(0, 60)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(vocab))
            parts.append(rng.choice(seps))
        files.append((f"rnd-{i}", "".join(parts)))
    for map_fn, reduce_fn in [
        (wc_map, wc_reduce),
        (indexer_map, indexer_reduce),
        (nocrash_map, nocrash_reduce),
    ]:
        got = run_mapreduce(spark, map_fn, reduce_fn, files)
        want = run_mapreduce_sequential(map_fn, reduce_fn, files)
        assert got == want


def test_on_documents_corpus(spark, sf_dir):
    """wc over the real documents corpus: distributed == sequential."""
    files = documents_as_files(spark, sf_dir, limit=50)
    got = run_mapreduce(spark, wc_map, wc_reduce, files)
    want = run_mapreduce_sequential(wc_map, wc_reduce, files)
    assert got == want and len(got) > 10


def test_gutenberg_corpus_differential(spark, text_corpus):
    """wc + indexer on the reference's OWN input corpus — the 8 Project
    Gutenberg books that src/main/test-mr.sh:87-96 feeds to every MapReduce
    correctness run (pg-*.txt, ~3.3 MB of real mixed-case/punctuated text),
    or its generated stand-in (textcorpus.py) when the books are
    absent.  Distributed output must equal the sequential oracle as a
    sorted line set (the test-mr.sh:103-110 compare): unicode and
    punctuation edge cases at corpus scale."""
    import glob
    import pathlib

    books = sorted(pathlib.Path(p) for p in glob.glob(text_corpus))
    assert len(books) == 8, "text corpus not found"
    files = [(p.name, p.read_text(encoding="utf-8")) for p in books]

    got_wc = run_mapreduce(spark, wc_map, wc_reduce, files)
    want_wc = run_mapreduce_sequential(wc_map, wc_reduce, files)
    assert got_wc == want_wc
    # Real-text sanity (the generated corpus keeps it by construction): a
    # large vocabulary, and 'the' is the usual top word.
    assert len(got_wc) > 10_000
    the = [line for line in got_wc if line.startswith("the ")]
    assert len(the) == 1 and int(the[0].split()[1]) > 10_000

    got_ix = run_mapreduce(spark, indexer_map, indexer_reduce, files)
    want_ix = run_mapreduce_sequential(indexer_map, indexer_reduce, files)
    assert got_ix == want_ix
    # 'the' appears in all 8 books.
    the_ix = [line for line in got_ix if line.startswith("the ")]
    assert len(the_ix) == 1 and the_ix[0].split()[1] == "8"
