"""Plan-shape regression gate: run the audit (tools/audit_plans.py) over
the headline queries inside the suite, so a plan regression (lost
broadcast, accidental cartesian, Python UDF creeping into a hot path,
global sort) fails CI instead of waiting for a manual tool run."""

from __future__ import annotations

import pytest
from audit_plans import ALLOW, audit

from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES, load_all

load_all()

# the bench headline set minus mapreduce-parity ops (their Python eval is
# the documented reference-UDF path), plus this session's flagship adds
AUDITED = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q18_large_volume_orders",
    "q10_returned_item_customers",
    "q21_sole_blame_suppliers",
    "window_top3_orders_per_customer",
    "agg_distinct_parts_per_supplier",
    "dedup_minhash_lsh",
    "sim_topk_ivf",
    "sim_tfidf_topk",
    "cluster_kmeans_embeddings",
    "events_gap_fill_hourly",
    "asof_join_next_purchase_after_error",
    "pipeline_curated_documents",
]


@pytest.mark.parametrize("name", AUDITED)
def test_no_plan_anti_patterns(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    flags = audit(name, df)
    real = [(f, why) for f, why in flags if f not in ALLOW.get(name, {})]
    assert not real, f"{name}: {real}"
