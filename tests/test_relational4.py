"""Oracle-compare and plan-shape tests for the relational4 TPC-H shapes
(q2/q7/q8/q9/q10/q11/q12/q13/q15/q16/q17/q20/q21/q22 adapted to the
testdata schema); test_oracles.py compares every query the same way."""

from __future__ import annotations

import pytest

from conftest import assert_df_matches_oracle

from mit_6_5840_mapreduce_with_go_spark.registry import ORACLES, QUERIES, load_all

load_all()

R4_QUERIES = [
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q10_returned_item_customers",
    "q11_important_parts",
    "q12_priority_lateness",
    "q13_customer_order_distribution",
    "q15_top_supplier",
    "q16_supplier_diversity",
    "q17_small_quantity_revenue",
    "q20_dominant_part_suppliers",
    "q21_sole_blame_suppliers",
    "q22_inactive_wealthy_customers",
]


@pytest.mark.parametrize("name", R4_QUERIES)
def test_matches_oracle(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    assert_df_matches_oracle(df, duck, ORACLES[name])


def test_q10_is_top_k_not_global_sort(spark, sf_dir):
    # orderBy+limit must compile to TakeOrderedAndProject: per-partition
    # top-k with a k-row driver merge — the plan that survives 100 TB.
    df = QUERIES["q10_returned_item_customers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q21_semi_anti_decorrelation(spark, sf_dir):
    # EXISTS / NOT EXISTS must stay semi/anti joins (one pass per leg),
    # never a row-multiplying inner join + distinct.
    df = QUERIES["q21_sole_blame_suppliers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_skyline_is_pareto_frontier(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.relational4 import (
        skyline_orders_cheap_early,
    )

    sky = skyline_orders_cheap_early(spark, sf_dir).collect()
    assert sky
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    pts = [(r["o_orderdate"], r["o_totalprice"], r["o_orderkey"]) for r in orders]
    sky_keys = {r["o_orderkey"] for r in sky}
    # no skyline member is dominated (someone at-least-as-early AND
    # strictly cheaper, with sort-order tie-breaking)
    by_key = {k: (d, p) for d, p, k in pts}
    for k in sky_keys:
        d, p = by_key[k]
        dominated = any(
            (d2, p2, k2) < (d, p, k) and p2 < p for d2, p2, k2 in pts
        )
        assert not dominated, k
    # frontier prices strictly decrease over time
    ordered = sorted(sky, key=lambda r: r["order_date"])
    prices = [r["o_totalprice"] for r in ordered]
    assert prices == sorted(prices, reverse=True)
