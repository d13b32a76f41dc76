"""Tests for the wholetext Python Data Source (sources/textfiles.py):
per-file rows, per-file task granularity, and content parity with a
direct read, on the 8-file text corpus (the reference's Gutenberg books
when present, else their generated stand-in: conftest ``text_corpus``)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.sources import read_whole_text_source


def test_one_row_and_one_partition_per_file(spark, text_corpus):
    files = sorted(glob.glob(text_corpus))
    assert len(files) == 8, "text corpus not found"
    df = read_whole_text_source(spark, text_corpus)
    assert df.count() == len(files)
    # one input partition per file = the reference's map-task granularity
    assert df.rdd.getNumPartitions() == len(files)


def test_content_matches_direct_read(spark, text_corpus):
    df = read_whole_text_source(spark, text_corpus)
    got = {r["file"]: r["content"] for r in df.collect()}
    assert len(got) == 8
    for p in sorted(glob.glob(text_corpus)):
        with open(p, encoding="utf-8", errors="replace") as fh:
            assert got[os.path.basename(p)] == fh.read()


def test_missing_glob_fails_loudly(spark):
    df = read_whole_text_source(spark, "/root/repo/no-such-dir/*.txt")
    try:
        df.collect()
        raise AssertionError("expected read failure for empty glob")
    except Exception as exc:  # Py4J wraps the FileNotFoundError
        assert "no files match" in str(exc)


def test_wordcount_totals_match_python(spark, text_corpus):
    """Token totals through the source equal a pure-Python count on one
    book (independent of Spark's split/explode machinery)."""
    import re

    # pg-being_ernest.txt among the reference's books
    path = sorted(glob.glob(text_corpus))[0]
    df = read_whole_text_source(spark, text_corpus)
    one = df.filter(F.col("file") == os.path.basename(path))
    n_spark = (
        one.select(F.explode(F.split("content", r"[^\p{L}]+")).alias("w"))
        .filter(F.col("w") != "")
        .count()
    )
    # Python's unicode-letter split: non-letters = \W plus digits and
    # underscore (equivalent to Java's [^\p{L}] for this corpus)
    with open(path, encoding="utf-8") as fh:
        n_py = len([w for w in re.split(r"[\W\d_]+", fh.read()) if w])
    assert n_spark == n_py > 0
