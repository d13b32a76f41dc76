"""Named oracle spot checks for the relational surface (test_oracles.py
compares every query) + row-level sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators import relational as R
from mit_6_5840_mapreduce_with_go_spark.registry import ORACLES

from conftest import assert_df_matches_oracle


def test_q1_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        R.q1_pricing_summary(spark, sf_dir), duck, ORACLES["q1_pricing_summary"]
    )


def test_q3_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        R.q3_top_revenue_orders(spark, sf_dir), duck, ORACLES["q3_top_revenue_orders"]
    )


def test_rollup_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        R.rollup_flag_status(spark, sf_dir), duck, ORACLES["rollup_flag_status"]
    )


def test_window_running_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        R.window_running_supplier_revenue(spark, sf_dir),
        duck,
        ORACLES["window_running_supplier_revenue"],
    )


def test_semi_plus_anti_partition_customers(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    semi = R.semi_customers_with_orders(spark, sf_dir).count()
    anti = R.anti_customers_without_orders(spark, sf_dir).count()
    assert semi + anti == cust


def test_topk_is_sorted_and_bounded(spark, sf_dir):
    rows = R.topk_expensive_orders(spark, sf_dir).collect()
    assert len(rows) == 25
    prices = [r["totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_sketch_accuracy_bounds(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.relational2 import (
        sketch_distinct_users,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = {r["event_type"]: r for r in sketch_distinct_users(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: (r["u"], r["e"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("u"), F.countDistinct("event_id").alias("e")
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for etype, (u, e) in exact.items():
        r = rows[etype]
        # The exact companion columns are independently recomputed here;
        # the in-query bound booleans are the driver-checked signal.
        assert (r["exact_users"], r["exact_events"]) == (u, e)
        assert r["hll_users_ok"] and r["hll_events_ok"] and r["median_ok"]


def test_sketch_distinct_users_null_event_type_group_survives(spark, tmp_path):
    """The round-11 Expand split joins the exact-distinct legs back on
    event_type; those joins must be null-safe — a NULL event_type group
    (which groupBy keeps, and the pre-split single aggregate kept) would
    be silently dropped by a plain equi-join."""
    from mit_6_5840_mapreduce_with_go_spark.operators.relational2 import (
        sketch_distinct_users,
    )

    rows = [
        (1, "2024-01-01 00:00:01", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:00:02", 11, "click", 2.0, "{}"),
        (3, "2024-01-01 00:00:03", 10, None, 3.0, "{}"),
        (4, "2024-01-01 00:00:04", 12, None, 4.0, "{}"),
        (5, "2024-01-01 00:00:05", 12, None, 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        [(e, __import__("datetime").datetime.fromisoformat(ts), u, t, v, p)
         for e, ts, u, t, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        r["event_type"]: (r["exact_users"], r["exact_events"])
        for r in sketch_distinct_users(spark, str(tmp_path)).collect()
    }
    assert got == {"click": (2, 2), None: (2, 3)}


def test_rollup_total_row_equals_table_count(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    total = (
        R.rollup_flag_status(spark, sf_dir)
        .filter((F.col("returnflag") == "ALL") & (F.col("linestatus") == "ALL"))
        .collect()
    )
    assert len(total) == 1 and total[0]["n_rows"] == li


def test_countmin_overestimates_bounded(spark, sf_dir):
    """CM guarantee: estimate >= exact always; expected overestimate
    <= e/w * N (loose check at 3x the expectation)."""
    from mit_6_5840_mapreduce_with_go_spark.operators.relational2 import (
        CM_W,
        sketch_countmin_user_counts,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = sketch_countmin_user_counts(spark, sf_dir).collect()
    assert len(rows) > 0
    n_total = load_table(spark, sf_dir, "events").count()
    bound = 3 * 2.71828 * n_total / CM_W
    for r in rows:
        assert r["cm_estimate"] >= r["exact_cnt"]
        assert r["cm_estimate"] - r["exact_cnt"] <= bound


def test_kmv_sketch_accuracy_and_fallback(spark, sf_dir):
    """KMV estimate within sketch error of the exact distinct count when
    cnt >= K (rsd ~ 1/sqrt(K-2) ~ 18% at K=32; allow 3x), and EXACTLY
    the distinct-hash count below K (the fallback branch)."""
    from mit_6_5840_mapreduce_with_go_spark.operators.relational3 import (
        _KMV_K,
        sketch_kmv_distinct_users,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = sketch_kmv_distinct_users(spark, sf_dir).collect()
    assert len(rows) == 5
    exact = {
        r["event_type"]: r["u"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for r in rows:
        # distinct hashes can undercount distinct users only via FNV
        # collisions (none on this corpus)
        assert r["n_distinct_hashes"] == exact[r["event_type"]]
        if r["n_distinct_hashes"] >= _KMV_K:
            assert abs(r["kmv_estimate"] - exact[r["event_type"]]) <= (
                0.55 * exact[r["event_type"]]
            )
        else:
            assert r["kmv_estimate"] == float(r["n_distinct_hashes"])
