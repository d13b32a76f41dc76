"""Regression pins for bench.py's run-stable plan fingerprints
(VERDICT r10 #2).  Each test rebuilds the same logical plan twice in
one session and asserts the fingerprint reproduces — exercising the
three real nondeterminism sources diagnosed in round 11:

1. RewriteDistinctAggregates orders rewritten aggregates / gid
   assignments by exprId-hash iteration (multi-distinct aggregates);
2. higher-order-function lambda variables carry a session-GLOBAL
   counter in their NAME (x_21 vs x_44), surviving the exprId strip;
3. AQE numbers QueryStage/WholeStageCodegen by stage completion order.

A fourth source depends on the session's history rather than on the
build: scan metadata cut at ``spark.sql.maxMetadataStringLength``.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bench import _plan_fingerprint


def _fp_twice(build):
    return _plan_fingerprint(build()), _plan_fingerprint(build())


def test_multi_distinct_aggregate_fingerprint_stable(spark, sf_dir):
    def build():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return li.groupBy("l_suppkey").agg(
            F.countDistinct("l_partkey").alias("a"),
            F.countDistinct("l_orderkey").alias("b"),
            F.count(F.lit(1)).alias("c"),
        )

    a, b = _fp_twice(build)
    assert a == b


def test_lambda_variable_counter_fingerprint_stable(spark, sf_dir):
    def build():
        em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return em.select(
            "vec_id",
            F.aggregate(
                F.zip_with("embedding", "embedding", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("norm2"),
            F.filter("embedding", lambda v: v > 0).alias("pos"),
        )

    a, b = _fp_twice(build)
    assert a == b
    # burn some lambda counter state between builds, then again
    spark.range(1).select(
        F.transform(F.array(F.lit(1)), lambda v: v + 1)
    ).collect()
    assert _plan_fingerprint(build()) == a


def test_fingerprint_still_detects_real_plan_changes(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = _plan_fingerprint(li.groupBy("l_suppkey").count())
    b = _plan_fingerprint(li.groupBy("l_partkey").count())
    c = _plan_fingerprint(
        li.where(F.col("l_quantity") > 10).groupBy("l_suppkey").count()
    )
    assert len({a, b, c}) == 3  # different plans, different fingerprints


def test_fingerprinted_plans_keep_pushed_filters_whole(spark, sf_dir, monkeypatch):
    """Spark cuts scan metadata longer than
    ``spark.sql.maxMetadataStringLength`` with ``...`` before the exprIds
    are stripped, so where the cut falls moves with the exprIds' digit
    count: q6's fingerprint changed after other queries ran in the same
    session.  The plans ``_fingerprint_and_census`` hashes must hold each
    pushed filter whole."""
    import bench

    from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES, load_all

    load_all()
    plans = []
    fingerprint = bench._plan_fingerprint

    def recording(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return fingerprint(df)

    monkeypatch.setattr(bench, "_plan_fingerprint", recording)
    bench._fingerprint_and_census(spark, QUERIES["q6_forecast_revenue"], sf_dir)
    assert len(plans) == 2
    for plan in plans:
        filters = re.findall(r"(?:PushedFilters|DataFilters): (.*?)(?:, \w+: |\n|$)", plan)
        assert filters, plan
        for f in filters:
            assert f.endswith("]") and "..." not in f, f


def test_bench_baseline_updates_latest_always_best_only_when_cleaner(tmp_path):
    """BENCH_BASELINE.json keeps one slot per "<sf>@<cpus>": latest_clean
    tracks the most recent clean run, best is replaced only by a lower
    total, plan_fp is written on every stable run (clean or not), and a
    run is diffed against its own slot only — shuffle.partitions follows
    the core count, so an 8-core plan must never stand in for 32 cores."""
    import bench

    path = str(tmp_path / "BENCH_BASELINE.json")

    def run(key, value, fp, contaminated=False, stable=True):
        bench._save_baseline(path, key, {
            "commit": f"c{value}", "value": value, "unit": "sec",
            "foreign_load": 0.1, "plan_fp_stable": stable,
            "queries": {"q": value}, "plan_fp": {"q": fp},
            "contaminated": contaminated,
        })
        return bench._load_baseline(path)

    assert bench._load_baseline(path) == {}
    run("0.1@32", 90.0, "aaaa")
    slot = run("0.1@32", 95.0, "bbbb")["0.1@32"]
    assert slot["latest_clean"]["commit"] == "c95.0"
    assert slot["best"]["value"] == 90.0
    assert slot["plan_fp"] == {"q": "bbbb"}
    slot = run("0.1@32", 85.0, "bbbb")["0.1@32"]
    assert slot["best"]["value"] == 85.0 and slot["latest_clean"]["value"] == 85.0
    # stable but contaminated: fingerprints move, timings do not
    slot = run("0.1@32", 50.0, "cccc", contaminated=True)["0.1@32"]
    assert slot["plan_fp"] == {"q": "cccc"}
    assert slot["latest_clean"]["value"] == 85.0 and slot["best"]["value"] == 85.0
    # unstable but clean: timings move, fingerprints do not
    slot = run("0.1@32", 88.0, "unstable:x/y", stable=False)["0.1@32"]
    assert slot["plan_fp"] == {"q": "cccc"}
    assert slot["latest_clean"]["value"] == 88.0 and slot["best"]["value"] == 85.0
    # unstable and contaminated: nothing is recorded
    assert "0.1@2" not in run("0.1@2", 1.0, "unstable:x/y", contaminated=True, stable=False)
    # another core count lands in its own slot and leaves 32 cores alone
    slots = run("0.1@8", 300.0, "dddd")
    assert slots["0.1@8"]["plan_fp"] == {"q": "dddd"}
    assert slots["0.1@8"]["best"]["value"] == 300.0
    assert slots["0.1@32"]["plan_fp"] == {"q": "cccc"}
    assert slots["0.1@32"]["best"]["value"] == 85.0
    assert "0.1@16" not in slots


def test_previous_plan_fps_keyed_by_cpus(tmp_path):
    """A run's previous fingerprints are looked up by (sf, cpus), never
    by sf alone: shuffle.partitions follows the core count and survives
    normalization, so an 8-core baseline must not be diffed against a
    32-core run.  The committed baseline keeps both core counts apart."""
    import json

    import bench

    path = tmp_path / "BENCH_BASELINE.json"
    path.write_text(
        json.dumps(
            {
                "by_sf": {
                    "0.1@8": {"plan_fp": {"q": "aaaa"}},
                    "0.1@32": {"plan_fp": {"q": "bbbb"}},
                }
            }
        )
    )
    slots = bench._load_baseline(str(path))
    assert slots["0.1@32"]["plan_fp"] == {"q": "bbbb"}
    assert slots["0.1@8"]["plan_fp"] == {"q": "aaaa"}
    assert slots.get("0.1@16", {}).get("plan_fp", {}) == {}

    committed = bench._load_baseline(bench._BASELINE)
    fp8, fp32 = committed["0.1@8"]["plan_fp"], committed["0.1@32"]["plan_fp"]
    assert fp8.keys() == fp32.keys() == set(bench.HEADLINE)
    assert fp8 != fp32  # partition counts differ between core counts


def test_foreign_load_and_contamination_rule():
    """foreign_load is the host's CPU time that was neither idle nor
    stolen, less the run's own, per second of the window; a run is
    contaminated above 1.0 (the unit and threshold of the old 1-min
    loadavg gate) or when a query's spread stayed flagged."""
    import bench

    tick = bench._TICK
    host0 = {"idle": 100 * tick, "steal": 5 * tick, "total": 400 * tick}
    # a 10 s window on 4 CPUs: 16 s idle, 4 s stolen, 20 s busy
    host1 = {"idle": 116 * tick, "steal": 9 * tick, "total": 440 * tick}
    assert bench._foreign_load(host0, host1, 12.0, 10.0) == pytest.approx(0.8)
    assert bench._foreign_load(host0, host1, 20.0, 10.0) == pytest.approx(0.0)
    assert bench._foreign_load(host0, host1, 2.0, 10.0) == pytest.approx(1.8)
    # stolen ticks are another VM's, not load on this host
    stolen = {"idle": 116 * tick, "steal": 19 * tick, "total": 440 * tick}
    assert bench._foreign_load(host0, stolen, 10.0, 10.0) == pytest.approx(0.0)

    assert not bench._contaminated(0.8, [])
    assert not bench._contaminated(1.0, [])
    assert bench._contaminated(1.8, [])
    assert bench._contaminated(0.0, ["dedup_cc_two_phase"])


@pytest.mark.parametrize("name", ["q1_pricing_summary", "dedup_cc_two_phase"])
def test_run_query_keeps_every_job_in_its_groups(spark, sf_dir, name):
    """Every job ``run_query`` starts, eager build jobs included, lands
    in its build or exec group, so the status-store record counts all of
    them; the group is cleared afterwards.  The census comes with the
    plan fingerprint."""
    import bench
    from perfbench.probes import SparkStatus

    from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES, load_all

    load_all()
    sc = spark.sparkContext

    def next_job_id() -> int:
        v = sc._jsc.sc().dagScheduler().nextJobId()
        return v if isinstance(v, int) else v.get()

    group = f"test_run_query.{name}"
    j0 = next_job_id()
    build_s, exec_s = bench.run_query(spark, QUERIES[name], sf_dir, group)
    started = next_job_id() - j0
    rec = bench._query_record(SparkStatus(spark), group, build_s, exec_s)

    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert rec["build_jobs"] + rec["exec_jobs"] == started
    assert rec["exec_jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
    if name == "dedup_cc_two_phase":
        assert rec["build_jobs"] >= 1  # its eager localCheckpoint / collect jobs
    assert rec["build_s"] >= 0 and rec["exec_s"] > 0

    fp, census = bench._fingerprint_and_census(spark, QUERIES[name], sf_dir)
    assert re.fullmatch(r"[0-9a-f]{16}", fp)
    assert set(census) == {
        "exch", "bexch", "reuse", "smj", "shj", "bhj", "bnl", "py", "aqeread",
    }
    assert census["exch"] >= 1
