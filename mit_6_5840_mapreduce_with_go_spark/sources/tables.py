"""Parquet sources for the driver-generated testdata tables.

The reference's only source is whole text files read one-per-map-task
(reference: src/mr/worker.go:87-97, src/mr/coordinator.go:191-207). Our
engine's primary sources are splittable parquet scans — Catalyst pushes
filters and prunes columns into the scan, which is what survives a 100 TB
scale-up (a whole-file text source does not).

Whole files are read elsewhere: by the ``wholetext`` Python Data Source
(``sources/textfiles.py``, one row per file) and by the map tasks of
``mapreduce/engine.py``, each of which reads its own input file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Testdata files are written as ONE parquet row group, and a row group is
# the parquet reader's minimum split unit — so every scan arrives as a
# single partition and the first stage of every query runs on one core.
# Operators whose per-row work is CPU-heavy (shingling, hashing, vector
# math) opt in to `fan_out=True`, which repartitions such a scan up to
# the session's parallelism. Light scans skip it: the exchange + 32-task
# scheduling costs more than it buys. At real scale files have many row
# groups / files and the scan already splits, so fan_out is a no-op.
_scan_partitions_cache: dict[tuple[str, str], int] = {}


def _fan_out_if_single_file(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, path)
    n = _scan_partitions_cache.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _scan_partitions_cache[key] = n
    if n < par // 2:
        return df.repartition(par)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one testdata table. Schema comes from parquet footer metadata —
    no inference pass, no full scan. ``fan_out=True`` requests scan
    parallelism for CPU-heavy downstream work (see note above)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which the parquet reader
        # rejects outright. Set the legacy session conf HERE (not only in
        # our session factory) because the caller may pass any session —
        # the verify driver builds its own.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→LTZ normalization below is value-preserving only under a
        # UTC session tz; pin it here too since the caller's session may not
        # come from our factory.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS); with
    # spark.sql.legacy.parquet.nanosAsLong it arrives as a long of
    # nanoseconds — integral-divide (never float: 1e18 ns exceeds double
    # precision) down to micros and rebuild the timestamp. DuckDB's
    # ns→us truncation matches this floor division.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Newer testdata writes events.ts as parquet TIMESTAMP(MICROS,
    # isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ.
    # unix_micros()/window RANGE frames require the LTZ TIMESTAMP type, so
    # normalize NTZ → LTZ here. The session timezone is pinned to UTC
    # (session.py), making the cast value-preserving and matching DuckDB's
    # naive-timestamps-as-UTC semantics (epoch_us parity).
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if fan_out:
        df = _fan_out_if_single_file(spark, df, os.path.join(sf_dir, name))
    return df

