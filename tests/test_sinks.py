"""Sinks & sources: reference format parity (text '%v %v', NDJSON
Key/Value), whole-text-file source, partitioned parquet with pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.plans.explain import physical_plan
from mit_6_5840_mapreduce_with_go_spark.sources import load_table
from mit_6_5840_mapreduce_with_go_spark.sources.sinks import (
    read_kv_json,
    read_kv_text,
    write_kv_json,
    write_kv_text,
    write_parquet_partitioned,
)


def _kv_df(spark):
    return spark.createDataFrame(
        [("apple", "3"), ("banana", "1 2 3"), ("c", "")],
        "key string, value string",
    )


def test_kv_text_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out_text")
    write_kv_text(_kv_df(spark), path)
    # format parity: every line is "<key> <value>" (worker.go:206)
    raw = sorted(r["value"] for r in spark.read.text(path).collect())
    assert raw == ["apple 3", "banana 1 2 3", "c "]
    back = {r["key"]: r["value"] for r in read_kv_text(spark, path).collect()}
    assert back == {"apple": "3", "banana": "1 2 3", "c": ""}


def test_kv_json_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out_json")
    write_kv_json(_kv_df(spark), path)
    # field-name parity with the Go struct encoding (worker.go:121-132)
    lines = []
    for f in os.listdir(path):
        if f.endswith(".json"):
            lines.extend(open(os.path.join(path, f)).read().splitlines())
    assert lines and all('"Key":' in l and '"Value":' in l for l in lines)
    back = {r["key"]: r["value"] for r in read_kv_json(spark, path).collect()}
    assert back == {"apple": "3", "banana": "1 2 3", "c": ""}


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    path = str(tmp_path / "nation_csv")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.option("header", True).option("inferSchema", True).csv(path)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )
    assert back.count() == nation.count()


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    write_parquet_partitioned(orders, path, ["o_orderstatus"])
    statuses = {r["o_orderstatus"] for r in orders.select("o_orderstatus").distinct().collect()}
    assert sorted(os.listdir(path))[:1]  # hive dirs exist
    back = spark.read.parquet(path)
    one = back.filter(F.col("o_orderstatus") == sorted(statuses)[0])
    plan = physical_plan(one)
    # partition filter reaches the scan: only one hive partition is read
    assert "PartitionFilters" in plan
    assert one.count() == orders.filter(F.col("o_orderstatus") == sorted(statuses)[0]).count()
    assert back.count() == orders.count()


def test_range_sorted_layout_prunes(spark, sf_dir, tmp_path):
    """write_range_sorted produces files with DISJOINT key ranges (the
    precondition parquet min/max skipping needs), and a range read over
    the layout returns exactly the filtered rows."""
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table
    from mit_6_5840_mapreduce_with_go_spark.sources.sinks import write_range_sorted

    out = str(tmp_path / "li_sorted")
    li = load_table(spark, sf_dir, "lineitem")
    write_range_sorted(li, out, "l_shipdate", files=8)

    import pathlib

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(pathlib.Path(out).glob("part-*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 4  # actually split into multiple files
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint (or touching) file ranges

    got = (
        spark.read.parquet(out)
        .filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01"))
        .count()
    )
    want = li.filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    ).count()
    assert got == want > 0


def test_csv_roundtrip_with_schema(spark, tmp_path):
    """CSV connector round-trip: header + explicit schema read-back
    preserves rows and types (CSV is schemaless on disk — the reader
    contract is schema-on-read)."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )
    path = str(tmp_path / "nation_csv")
    df.write.option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(path)
        .orderBy("n_nationkey")
    )
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]  # nullability flags differ between parquet and CSV schema-on-read
    assert [r.asDict() for r in back.collect()] == [
        r.asDict() for r in df.collect()
    ]
