from __future__ import annotations

import os
import sys

import pytest

# the repository root (bench, __spark_entry__, tools.*) and tools/
# itself (the audit and oracle-comparison scripts), from this checkout
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_ROOT, os.path.join(_ROOT, "tools")]

from mit_6_5840_mapreduce_with_go_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture()
def spark():
    # getOrCreate: one JVM for the whole suite (individual tests that need
    # special masters manage their own lifecycle and stop theirs after).
    return get_spark("tests", cores=8, shuffle_partitions=8)


@pytest.fixture()
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def text_corpus() -> str:
    """Glob of the 8-file MapReduce text corpus: the reference's Project
    Gutenberg books when present, else their generated stand-in
    (``textcorpus.corpus_glob``, the queries' own corpus)."""
    from mit_6_5840_mapreduce_with_go_spark.mapreduce.apps import GUTENBERG_GLOB

    return GUTENBERG_GLOB


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from mit_6_5840_mapreduce_with_go_spark.sources import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def assert_df_matches_oracle(df, con, sql: str, ndigits: int = 6) -> None:
    """Order-insensitive value compare, mirroring the driver's gate with
    the same compare as tools/check_correctness.py."""
    from check_correctness import compare

    scols, srows = df.columns, df.collect()
    cur = con.execute(sql)
    why = compare(scols, srows, [d[0] for d in cur.description], cur.fetchall(), ndigits)
    assert why is None, why
