"""Streaming space-saving heavy hitters: final sketch state must equal
the plain-Python replica fed the same per-bucket ordered stream, and the
classic guarantees must hold against exact counts (overestimate bound;
every true heavy hitter above the error floor survives)."""

from __future__ import annotations

import pyspark.sql.functions as F

from mit_6_5840_mapreduce_with_go_spark.streaming.heavy_hitters import (
    CAPACITY,
    N_BUCKETS,
    heavy_hitters_stream,
    spacesaving_reference,
)
from mit_6_5840_mapreduce_with_go_spark.streaming.windows import (
    EVENTS_SCHEMA,
    run_to_memory,
)


def test_spacesaving_matches_reference_and_bounds(spark, sf_dir):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = run_to_memory(heavy_hitters_stream(stream), "t_hh", "update")
    try:
        q.processAllAvailable()
        rows = spark.table("t_hh").collect()
    finally:
        q.stop()
    # latest emission per (bucket, key): single availableNow batch -> take all
    got = {(r["bucket"], r["key"]): (r["count"], r["err"]) for r in rows}
    assert got
    # per bucket, at most CAPACITY counters
    per_bucket: dict[int, int] = {}
    for (b, _k), _ in got.items():
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert all(v <= CAPACITY for v in per_bucket.values())

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("ts", "event_id")
        .collect()
    )
    ref_stream = [(int(e["user_id"]) % N_BUCKETS, int(e["user_id"])) for e in ev]
    want = spacesaving_reference(ref_stream)
    got_flat = {b * 10**9 + k: v for (b, k), v in got.items()}
    assert got_flat == want

    # guarantees vs exact counts
    exact: dict[int, int] = {}
    bucket_len: dict[int, int] = {}
    for b, k in ref_stream:
        exact[k] = exact.get(k, 0) + 1
        bucket_len[b] = bucket_len.get(b, 0) + 1
    for (b, k), (c, e) in got.items():
        assert exact[k] <= c <= exact[k] + e  # overestimate bound
        assert e <= bucket_len[b] // CAPACITY + max(exact.values())
    # every key above its bucket's error floor is present in the sketch
    for b, blen in bucket_len.items():
        floor = blen // CAPACITY
        for k, n in exact.items():
            if k % N_BUCKETS == b and n > floor:
                assert (b, k) in got, (b, k, n, floor)


def test_quantile_histogram_accuracy(spark, sf_dir):
    """Histogram estimate must be within one bin width of exact, and
    the reported rel_err consistent with the two columns."""
    from mit_6_5840_mapreduce_with_go_spark.operators import sketches2 as SK
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table
    from pyspark.sql import functions as F

    rows = SK.sketch_quantile_histogram(spark, sf_dir).collect()
    assert {r["p"] for r in rows} == set(SK._QH_PS)
    mm = (
        load_table(spark, sf_dir, "orders")
        .agg(F.min("o_totalprice"), F.max("o_totalprice"))
        .collect()[0]
    )
    width = (mm[1] - mm[0]) / SK._QH_BINS
    for r in rows:
        assert abs(r["est"] - r["exact"]) <= width + 1e-6
        want = round(abs(r["est"] - r["exact"]) / r["exact"], 6)
        assert abs(r["rel_err"] - want) < 1e-5


def test_bloom_no_false_negatives(spark, sf_dir):
    """The bloom guarantee: every truly-present (partition, key) must be
    in the maybe set — n_present == exact per-partition present count."""
    from mit_6_5840_mapreduce_with_go_spark.operators import bloom as BL
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table
    from pyspark.sql import functions as F

    rows = {r["pmonth"]: r for r in
            BL.sketch_bloom_partition_prune(spark, sf_dir).collect()}
    exact = {
        r["pmonth"]: r["n"]
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < BL._BL_PROBE)
        .select(F.month("o_orderdate").alias("pmonth"), "o_custkey")
        .distinct()
        .groupBy("pmonth")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for m, n in exact.items():
        assert rows[m]["n_present"] == n  # no false negatives, ever
        assert rows[m]["n_maybe"] >= n
        assert rows[m]["n_false_positive"] == rows[m]["n_maybe"] - n
        assert rows[m]["fp_rate"] < 0.5  # 1024 bits / ~150 keys: low FP


def test_cms_sliding_guarantee(spark, sf_dir):
    """The CMS guarantee after merging: estimates never underestimate,
    and totals are consistent."""
    from mit_6_5840_mapreduce_with_go_spark.operators import sketches2 as SK

    rows = SK.sketch_cms_sliding_counts(spark, sf_dir).collect()
    assert len(rows) == SK._CMS_PROBE
    for r in rows:
        assert r["never_underestimates"] is True
        assert r["total_est"] >= r["total_exact"]
        assert r["max_overestimate"] >= 0


def test_hll_sliding_error_reasonable(spark, sf_dir):
    """At the tiny test SF windows hold only a handful of distinct users,
    so the raw (uncorrected) estimator's small-range bias dominates —
    its floor is ~alpha*m ≈ 45 however empty the window.  Assert the
    error is explained by that bias, not unbounded garbage."""
    from mit_6_5840_mapreduce_with_go_spark.operators import sketches2 as SK

    row = SK.sketch_hll_sliding_union(spark, sf_dir).collect()[0]
    assert row["n_windows"] > 0 and row["total_exact"] > 0
    mean_card = row["total_exact"] / row["n_windows"]
    bias_floor = SK._HLL_ALPHA * SK._HLL_M  # raw estimate of an empty sketch
    assert 0.0 <= row["mean_rel_err"] <= bias_floor / max(mean_card, 1.0) + 0.6
    assert row["mean_rel_err"] <= row["max_rel_err"]
