"""Invariant tests for the scale-operations diagnostics
(operators/scaleops.py): skew profile, range-partition planner,
compaction binning. Cross-engine value checks live in the oracle mirror;
these pin the *semantic* invariants the metrics must satisfy."""

from __future__ import annotations

import pyspark.sql.functions as F

from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
    _COMPACT_TARGET,
    _RANGE_N_PARTS,
    layout_range_partition_plan,
    maintenance_compaction_bins,
    stats_key_skew_profile,
)

SF = "/root/testdata/sf0.001"


def test_skew_profile_invariants(spark):
    rows = stats_key_skew_profile(spark, SF).orderBy("rank").collect()
    assert len(rows) == 10
    # ranks are 1..10, counts non-increasing, cumulative share increasing
    assert [r["rank"] for r in rows] == list(range(1, 11))
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    cums = [r["cum_share_pct"] for r in rows]
    assert cums == sorted(cums)
    assert all(0 < r["share_pct"] <= 100 for r in rows)
    # skew factor is a global constant >= the top key's ratio_vs_mean... no:
    # skew_factor IS max/mean, which equals rank-1's ratio_vs_mean.
    assert abs(rows[0]["ratio_vs_mean"] - rows[0]["skew_factor"]) < 1e-9
    # shares are consistent with raw counts
    ev_total = spark.read.parquet(f"{SF}/events.parquet").count()
    assert rows[0]["total_rows"] == ev_total


def test_range_partition_plan_equi_depth(spark):
    plan = layout_range_partition_plan(spark, SF).orderBy("part_no").collect()
    total = sum(r["rows_assigned"] for r in plan)
    orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert total == orders
    # partitions cover 0..N-1 with non-overlapping, increasing bin ranges
    assert plan[0]["part_no"] == 0 and plan[-1]["part_no"] <= _RANGE_N_PARTS - 1
    for a, b in zip(plan, plan[1:]):
        assert a["hi_bin"] < b["lo_bin"]
    # equi-depth: every partition's load is within one pre-bin's weight of
    # the ideal share (bin granularity is the only permitted imbalance).
    max_bin_weight = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy(F.floor(F.col("o_totalprice") / 100.0).alias("b"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    ideal = orders / _RANGE_N_PARTS
    for r in plan:
        assert r["rows_assigned"] <= ideal + max_bin_weight


def test_compaction_bins_pack_contiguously(spark):
    bins = maintenance_compaction_bins(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    assert sum(r["n_files"] for r in bins) == n_docs
    by_source: dict[str, list] = {}
    for r in bins:
        by_source.setdefault(r["source"], []).append(r)
    for src, rows in by_source.items():
        rows.sort(key=lambda r: r["bin"])
        # bins are dense 0..k and doc-id ranges are contiguous, non-overlapping
        assert [r["bin"] for r in rows] == list(range(len(rows)))
        for a, b in zip(rows, rows[1:]):
            assert a["last_doc"] < b["first_doc"]
    # prefix-sum packing bound: a bin's start overshoots its k*T boundary
    # by less than one file, so every non-final bin holds > T - max_file.
    max_file = docs.agg(F.max("n_chars")).first()[0]
    for src, rows in by_source.items():
        for r in rows[:-1]:
            assert r["total_chars"] > _COMPACT_TARGET - max_file


def test_fk_containment_profile(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        profile_fk_candidates,
    )

    rows = {r["child"]: r for r in profile_fk_candidates(spark, SF).collect()}
    # referential integrity holds on the TPC-H-ish edges
    for edge in (
        "lineitem.l_orderkey",
        "orders.o_custkey",
        "lineitem.l_partkey",
        "customer.c_nationkey",
    ):
        assert rows[edge]["is_fk"], edge
        assert rows[edge]["containment"] == 1.0
        assert rows[edge]["n_contained"] == rows[edge]["child_distinct"]
    # the negative control is profiled but not an FK at this sf
    neg = rows["events.user_id"]
    assert neg["n_contained"] <= neg["child_distinct"]
    assert 0.0 <= neg["containment"] <= 1.0


def test_fk_profile_null_and_non_integral_keys(spark):
    """A NULL key on both sides is never contained (the IN-subquery
    oracle's semantics), and a non-integral key is refused by name
    rather than cast to NULL."""
    import duckdb
    import pytest
    from conftest import assert_df_matches_oracle

    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        _fk_oracle,
        _fk_profile,
    )

    child = [(1, "a"), (2, "b"), (2, "b"), (None, "x"), (5, None)]
    parent = [(1, "a"), (2, "z"), (3, "c"), (None, "x")]
    tables = {
        "child": spark.createDataFrame(child, "ck bigint, cs string"),
        "parent": spark.createDataFrame(parent, "pk int, ps string"),
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE child (ck BIGINT, cs VARCHAR)")
    con.executemany("INSERT INTO child VALUES (?, ?)", child)
    con.execute("CREATE TABLE parent (pk INTEGER, ps VARCHAR)")
    con.executemany("INSERT INTO parent VALUES (?, ?)", parent)

    pairs = [("child", "ck", "parent", "pk")]
    df = _fk_profile(tables.__getitem__, pairs)
    assert_df_matches_oracle(df, con, _fk_oracle(pairs))
    (row,) = df.collect()
    assert (row["child_distinct"], row["parent_distinct"], row["n_contained"]) == (3, 3, 2)
    assert not row["is_fk"]

    with pytest.raises(ValueError, match=r"child\.cs"):
        _fk_profile(tables.__getitem__, [("child", "cs", "parent", "ps")])


def test_approx_groupby_eval_invariants(spark):
    import math

    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        stats_approx_groupby_eval,
    )

    rows = stats_approx_groupby_eval(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_sample"] < r["n_total"]
        # ~1/8 md5 sample: loose binomial sanity bounds
        frac = r["n_sample"] / r["n_total"]
        assert 0.03 < frac < 0.25
        assert r["ci_halfwidth"] > 0
        # within_ci is consistent with the reported (rounded) numbers up
        # to rounding slack
        gap = abs(r["exact_avg"] - r["sample_avg"])
        if r["within_ci"]:
            assert gap <= r["ci_halfwidth"] + 2e-4
        else:
            assert gap >= r["ci_halfwidth"] - 2e-4
    # python cross-check of one type's exact mean
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    t = rows[0]["event_type"]
    cs = [round(e["value"] * 100) for e in ev if e["event_type"] == t]
    assert abs(rows[0]["exact_avg"] - round(sum(cs) / len(cs) / 100.0, 4)) < 1e-9


def test_order_lineitem_recon_invariants(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        audit_order_lineitem_recon,
    )

    rows = audit_order_lineitem_recon(spark, SF).collect()
    assert rows
    n_orders_total = sum(r["n_orders"] for r in rows)
    assert n_orders_total == spark.read.parquet(f"{SF}/orders.parquet").count()
    for r in rows:
        # partition: childless + within + beyond == all orders of the status
        assert (
            r["n_childless"] + r["n_within_5pct"] + r["n_beyond_5pct"]
            == r["n_orders"]
        )
        assert 0.0 <= r["within_rate"] <= 1.0
        if r["n_orders"] > r["n_childless"]:
            assert r["mean_rel_err"] is not None and r["mean_rel_err"] >= 0
    # the audit is non-vacuous on this corpus: drift exists
    assert any(r["n_beyond_5pct"] > 0 for r in rows)


def test_kmv_source_overlap_eval(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.relational3 import (
        sketch_kmv_source_overlap,
    )

    rows = sketch_kmv_source_overlap(spark, SF).collect()
    srcs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source"
    ).distinct().count()
    assert len(rows) == srcs * (srcs - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_both"] <= min(r["n_a"], r["n_b"])
        assert 0.0 <= r["jaccard_exact"] <= 1.0
        assert 0.0 <= r["kmv_jaccard"] <= 1.0
        assert abs(abs(r["jaccard_exact"] - r["kmv_jaccard"]) - r["abs_err"]) < 2e-4
    # the sketch is informative: mean abs error beats predicting 0 overlap
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    mean_base = sum(r["jaccard_exact"] for r in rows) / len(rows)
    assert mean_err <= mean_base + 0.02


def test_data_contracts_verdicts(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        audit_data_contracts,
    )

    rows = {
        (r["table_name"], r["column_name"], r["check_name"]): r
        for r in audit_data_contracts(spark, SF).collect()
    }
    assert len(rows) == 9
    # single-column keys hold; the composite lineitem key does NOT (the
    # synthetic generator reuses line numbers) — an honest red row
    assert rows[("orders", "o_orderkey", "unique")]["passed"]
    assert rows[("customer", "c_custkey", "unique")]["passed"]
    assert not rows[("lineitem", "l_orderkey,l_linenumber", "unique")]["passed"]
    assert rows[("orders", "o_custkey", "relationship:customer.c_custkey")][
        "passed"
    ]
    for r in rows.values():
        assert 0 <= r["n_violations"] <= r["n_rows"]
        assert r["passed"] == (r["n_violations"] == 0)


def test_cms_join_size_bounds(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.relational2 import (
        sketch_cms_join_size,
    )

    r = sketch_cms_join_size(spark, SF).collect()[0]
    # CM inner product NEVER underestimates, and at w=4096 over this key
    # cardinality it should land within 2x
    assert r["cms_estimate"] >= r["exact_join_size"]
    assert r["overestimate_ratio"] >= 1.0
    assert r["overestimate_ratio"] <= 2.0
    # exact side cross-check
    import pyspark.sql.functions as F

    o = spark.read.parquet(f"{SF}/orders.parquet").groupBy("o_custkey").count()
    e = spark.read.parquet(f"{SF}/events.parquet").groupBy("user_id").count()
    want = (
        o.join(e, o.o_custkey == e.user_id)
        .select((o["count"] * e["count"]).alias("x"))
        .agg(F.sum("x"))
        .first()[0]
    )
    assert r["exact_join_size"] == want


def test_shrinkage_contracts(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        stats_shrunken_source_value,
    )

    rows = stats_shrunken_source_value(spark, SF).collect()
    assert rows
    for r in rows:
        # shrinkage always moves toward (never past) the global mean
        assert r["shrunk_dev_from_global"] <= r["raw_dev_from_global"] + 1e-4
        # shrunk lies between raw and global
        lo = min(r["raw_mean"], r["raw_mean"] - r["raw_dev_from_global"])
        hi = max(r["raw_mean"], r["raw_mean"] + r["raw_dev_from_global"])
        assert lo - 1e-4 <= r["shrunk_mean"] <= hi + 1e-4


def test_benford_audit_shape(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.scaleops import (
        audit_benford_prices,
    )

    rows = {r["digit"]: r for r in audit_benford_prices(spark, SF).collect()}
    assert set(rows) <= set(range(1, 10))
    total_frac = sum(r["observed_frac"] for r in rows.values())
    assert abs(total_frac - 1.0) < 1e-2
    # Benford expectation is monotonically decreasing in the digit
    fr = [rows[d]["benford_frac"] for d in sorted(rows)]
    assert fr == sorted(fr, reverse=True)
