"""Direct property tests for the stitched two-pass global ordering
(plans/stitch.py) — until now it was covered only transitively through
query oracles.  Properties: total PID assignment, PID monotone in the
key, determinism across re-evaluation, struct-key literal round-trip,
null-key handling, and stitched_order == the naive global window."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, Window as W
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.plans.stitch import (
    PID,
    order_buckets,
    stitched_order,
)


def _random_df(spark, n: int, seed: int, with_dups: bool = True):
    rng = random.Random(seed)
    hi = n // 2 if with_dups else 10 * n
    rows = [
        Row(k=rng.randint(0, hi), v=rng.randint(-5, 5), i=i) for i in range(n)
    ]
    return spark.createDataFrame(rows).repartition(8)


@pytest.mark.parametrize("seed,n,p", [(1, 200, 8), (2, 997, 32), (3, 40, 64)])
def test_every_row_bucketed_and_monotone(spark, seed, n, p):
    df = _random_df(spark, n, seed)
    b = order_buckets(df, F.col("k"), num_partitions=p, seed=seed)
    rows = b.collect()
    assert len(rows) == n  # total: no row dropped or duplicated
    assert all(r[PID] is not None and 0 <= r[PID] < p for r in rows)
    # monotone: sort by key — PIDs must be non-decreasing; equal keys
    # always share a bucket (pure function of the key)
    by_key = sorted(rows, key=lambda r: r["k"])
    pids = [r[PID] for r in by_key]
    assert pids == sorted(pids)
    key_to_pid = {}
    for r in rows:
        assert key_to_pid.setdefault(r["k"], r[PID]) == r[PID]


def test_deterministic_across_evaluations(spark):
    """The round-4 design point: cut points are plan literals, so two
    independent evaluations of the SAME returned DataFrame agree —
    unlike repartitionByRange, whose sampler reseeds per evaluation."""
    df = _random_df(spark, 500, seed=7)
    b = order_buckets(df, F.col("k"), num_partitions=16)
    first = {r["i"]: r[PID] for r in b.collect()}
    second = {r["i"]: r[PID] for r in b.collect()}
    assert first == second
    # and a second BUILD over the same input agrees too (seed-pinned)
    b2 = order_buckets(df, F.col("k"), num_partitions=16)
    third = {r["i"]: r[PID] for r in b2.collect()}
    assert first == third


def test_struct_key_literals_roundtrip(spark):
    """Sampled struct cut points re-enter the plan as struct literals
    with matching field names/types (the _lit_key path)."""
    df = _random_df(spark, 300, seed=11)
    key = F.struct((-F.col("k")).alias("nk"), F.col("i").alias("ti"))
    b = order_buckets(df, key, num_partitions=8, seed=11)
    rows = b.collect()
    assert len(rows) == 300
    by_key = sorted(rows, key=lambda r: (-r["k"], r["i"]))
    pids = [r[PID] for r in by_key]
    assert pids == sorted(pids)
    assert len(set(pids)) > 1  # the sample actually split the range


def test_null_keys_bucket_zero(spark):
    """NULL top-level keys are dropped from the driver sample (None is
    unorderable in Python) and land in bucket 0 (NULL > lit is never
    true) — they don't crash the build."""
    rows = [Row(k=None if i % 5 == 0 else i, i=i) for i in range(100)]
    df = spark.createDataFrame(rows, schema="k int, i int")
    b = order_buckets(df, F.col("k"), num_partitions=8)
    got = b.collect()
    assert len(got) == 100
    assert all(r[PID] == 0 for r in got if r["k"] is None)


@pytest.mark.parametrize("seed", [21, 22])
def test_stitched_order_matches_global_window(spark, seed):
    """rank + inclusive running sums from the stitch equal the naive
    single-partition window on a unique composite key."""
    df = _random_df(spark, 400, seed=seed)
    key = F.struct(F.col("k").alias("sk"), F.col("i").alias("si"))
    got = stitched_order(
        df, key, rank_col="r", sum_cols={"v": "cum_v", "k": "cum_k"},
        num_partitions=16, seed=seed,
    ).collect()
    wp = W.orderBy("k", "i")
    expect = df.select(
        "i",
        F.row_number().over(wp).alias("r"),
        F.sum("v").over(wp.rowsBetween(W.unboundedPreceding, 0)).alias("cum_v"),
        F.sum("k").over(wp.rowsBetween(W.unboundedPreceding, 0)).alias("cum_k"),
    ).collect()
    gm = {r["i"]: (r["r"], r["cum_v"], r["cum_k"]) for r in got}
    em = {r["i"]: (r["r"], r["cum_v"], r["cum_k"]) for r in expect}
    assert gm == em


def test_grouped_stitch_matches_per_group_window(spark):
    """partition_by: per-group rank + running sums equal the naive
    Window.partitionBy(group).orderBy(key) — without any one group
    landing on a single task."""
    rng = random.Random(55)
    rows = [
        Row(g=rng.choice(["en", "fr", "de"]), k=i, v=rng.randint(1, 9))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows).repartition(8)
    got = stitched_order(
        df, F.col("k"), partition_by=["g"], rank_col="r",
        sum_cols={"v": "cum_v"}, num_partitions=16,
    ).collect()
    wp = W.partitionBy("g").orderBy("k")
    expect = df.select(
        "g", "k",
        F.row_number().over(wp).alias("r"),
        F.sum("v").over(wp.rowsBetween(W.unboundedPreceding, 0)).alias("cum_v"),
    ).collect()
    gm = {(r["g"], r["k"]): (r["r"], r["cum_v"]) for r in got}
    em = {(r["g"], r["k"]): (r["r"], r["cum_v"]) for r in expect}
    assert gm == em


def test_stitched_order_plan_has_no_single_partition_data_window(spark):
    """The data-sized window is partitioned by the bucket id; the only
    SinglePartition exchange feeds the P-row _stitch_pid offset table."""
    df = _random_df(spark, 400, seed=31)
    out = stitched_order(df, F.col("i"), rank_col="r", num_partitions=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    from audit_plans import _gwin_hits

    assert _gwin_hits(plan) == []
    assert f"hashpartitioning({PID}" in plan  # the per-bucket data window


def test_gwin_check_flags_naive_global_window(spark, sf_dir):
    """The audit's GWIN detector (the check stitch.py's docstring
    promises) fires on the shape the stitch replaces.  The input must be
    a real source scan — driver-literal tables (Scan ExistingRDD) are
    bounded by construction and deliberately waived."""
    from audit_plans import _gwin_hits

    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    naive = docs.withColumn("r", F.row_number().over(W.orderBy("doc_id")))
    plan = naive._jdf.queryExecution().executedPlan().toString()
    assert _gwin_hits(plan), "naive unpartitioned window must flag GWIN"


def test_order_buckets_single_eager_job_at_build(spark):
    """Plan-BUILD cost contract: constructing the bucketed plan runs
    exactly ONE Spark job (the fixed-size TakeOrderedAndProject sample
    sketch) — the round-5 shape ran TWO (a full count() scan + a
    sample().collect()), a real tax at 100x scale paid before the query
    even starts.  Counted via a job group around the build."""
    # shuffle-free input: under AQE each exchange in the sketch's input
    # would add a map-stage job, which is the INPUT's cost, not the
    # sketch's — the contract here is one job for the sketch itself
    rng = random.Random(11)
    rows = [Row(k=rng.randint(0, 400), v=0, i=i) for i in range(800)]
    df = spark.createDataFrame(rows)
    df.count()  # materialize lazily-cached scan state outside the group
    sc = spark.sparkContext
    sc.setJobGroup("stitch-build-audit", "order_buckets plan build")
    try:
        order_buckets(df, F.col("k"), num_partitions=16)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("stitch-build-audit")
    assert len(jobs) == 1, f"plan build ran {len(jobs)} jobs, want 1"
