"""Invariant tests for the round-2 monitoring tranche: rolling exact
median, hour-of-day seasonality profile, and n-gram novelty."""

from __future__ import annotations

import pyspark.sql.functions as F

from mit_6_5840_mapreduce_with_go_spark.operators.text import text_ngram_novelty
from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
    events_rolling_median,
    events_seasonality_profile,
)

SF = "/root/testdata/sf0.001"


def test_rolling_median_frame_and_robustness(spark):
    out = events_rolling_median(spark, SF)
    rows = out.collect()
    assert rows
    # frame never exceeds 10 rows and the median lies within the frame hull
    assert all(1 <= r["n_frame"] <= 10 for r in rows)
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("user_id") < 30)
        .orderBy("ts", "event_id")
        .collect()
    )
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    med = {(r["user_id"], r["event_id"]): r for r in rows}
    import statistics

    for uid, es in by_user.items():
        for i, e in enumerate(es):
            frame = [x["value"] for x in es[max(0, i - 9) : i + 1]]
            r = med[(uid, e["event_id"])]
            assert r["n_frame"] == len(frame)
            assert abs(r["rolling_median"] - round(statistics.median(frame), 4)) < 1e-9


def test_seasonality_profile_shape(spark):
    rows = events_seasonality_profile(spark, SF).collect()
    types = {r["event_type"] for r in rows}
    # exactly one peak hour per type; counts cover all events
    for t in types:
        trows = [r for r in rows if r["event_type"] == t]
        assert sum(1 for r in trows if r["is_peak_hour"]) == 1
        peak = max(trows, key=lambda r: (r["n_events"], -r["hour_of_day"]))
        assert peak["is_peak_hour"]
        assert all(0 <= r["hour_of_day"] <= 23 for r in trows)
    total = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == total


def test_ngram_novelty_monotone_anchor(spark):
    rows = {r["doc_id"]: r for r in text_ngram_novelty(spark, SF).collect()}
    assert rows
    # the lowest-doc_id document sees everything first: novelty 1.0
    first = rows[min(rows)]
    assert first["novelty_rate"] == 1.0
    for r in rows.values():
        assert 0.0 <= r["novelty_rate"] <= 1.0
        assert 0 <= r["n_novel"] <= r["n_shingles"]
    # every shingle is novel in exactly one doc: sums agree with the
    # distinct-shingle count of the corpus slice
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, greatest(size(toks) - 3, 0)),"
                        " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
                    )
                )
            ).alias("g")
        )
    )
    n_distinct = docs.distinct().count()
    assert sum(r["n_novel"] for r in rows.values()) == n_distinct


def test_mad_outliers_invariants(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_mad_outliers,
    )
    import statistics

    rows = events_mad_outliers(spark, SF).collect()
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_type: dict[str, list[int]] = {}
    for e in ev:
        by_type.setdefault(e["event_type"], []).append(round(e["value"] * 100))
    for r in rows:
        cs = by_type[r["event_type"]]
        assert r["n"] == len(cs)
        med = statistics.median(cs)
        assert abs(r["median"] - round(med / 100.0, 4)) < 1e-9
        mad = statistics.median([abs(c - med) for c in cs])
        assert abs(r["mad"] - round(mad / 100.0, 4)) < 1e-9
        n_out = sum(1 for c in cs if abs(c - med) > 3 * mad)
        assert r["n_outliers"] == n_out
        assert 0.0 <= r["outlier_frac"] <= 1.0


def test_cusum_drift_invariants(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_cusum_drift,
    )

    rows = events_cusum_drift(spark, SF).collect()
    assert rows
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("user_id") < 50)
        .orderBy("ts", "event_id")
        .collect()
    )
    cents = [round(e["value"] * 100) for e in ev]
    S, n = sum(cents), len(cents)
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    got = {r["user_id"]: r for r in rows}
    assert set(got) == set(by_user)
    for uid, es in by_user.items():
        cus, peak, peak_eid, peak_val = 0, -1, None, 0
        for e in es:
            cus += round(e["value"] * 100) * n - S
            if abs(cus) > peak:
                peak, peak_eid, peak_val = abs(cus), e["event_id"], cus
        r = got[uid]
        assert r["n_events"] == len(es)
        assert r["peak_event_id"] == peak_eid
        assert abs(r["peak_cusum"] - round(peak / (100.0 * n), 4)) < 1e-9
        assert r["drift_direction"] == (1 if peak_val > 0 else -1 if peak_val < 0 else 0)


def test_top_session_paths_shape(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.behavior import (
        events_top_session_paths,
    )

    rows = events_top_session_paths(spark, SF).collect()
    assert 0 < len(rows) <= 15
    ns = [r["n_sessions"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        steps = r["path"].split(">")
        assert 1 <= len(steps) <= 3
        assert r["path_len"] == len(steps) or r["path_len"] <= 3


def test_seasonal_naive_eval_invariants(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_seasonal_naive_eval,
    )

    rows = events_seasonal_naive_eval(spark, SF).collect()
    assert rows
    total_test = sum(r["test_events"] for r in rows)
    day30 = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("ts").cast("date") == F.lit("2024-01-30").cast("date"))
        .count()
    )
    assert total_test == day30
    for r in rows:
        assert r["mae"] >= abs(r["bias"]) - 1e-9  # MAE dominates |bias|
        assert r["mae"] >= 0


def test_theilsen_matches_python(spark):
    import statistics

    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_theilsen_daily_trend,
    )

    rows = {r["event_type"]: r for r in events_theilsen_daily_trend(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import collections
    import datetime as dt

    daily: dict[str, collections.Counter] = {}
    for e in ev:
        day = (e["ts"].date() - dt.date(2024, 1, 1)).days
        daily.setdefault(e["event_type"], collections.Counter())[day] += round(
            e["value"] * 100
        )
    for t, series in daily.items():
        days = sorted(series)
        slopes = [
            (series[d2] - series[d1]) / ((d2 - d1) * 100.0)
            for i, d1 in enumerate(days)
            for d2 in days[i + 1 :]
        ]
        r = rows[t]
        assert r["n_pairs"] == len(slopes)
        assert abs(r["theilsen_slope"] - round(statistics.median(slopes), 4)) < 1e-9


def test_holt_matches_python_fold(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_holt_smoothing,
    )

    rows = {r["user_id"]: r for r in events_holt_smoothing(spark, SF).collect()}
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("user_id") < 50)
        .orderBy("ts", "event_id")
        .collect()
    )
    by_user: dict[int, list[float]] = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e["value"])
    for uid, vals in by_user.items():
        l, b = vals[0], 0.0
        for v in vals[1:]:
            l_new = v * 0.5 + (l + b) * 0.5
            b = (l_new - l) * 0.25 + b * 0.75
            l = l_new
        r = rows[uid]
        assert r["n_events"] == len(vals)
        assert abs(r["level"] - round(l, 4)) < 1e-9
        assert abs(r["trend"] - round(b, 4)) < 1e-9
        assert abs(r["forecast_next"] - round(l + b, 4)) < 1e-9


def test_leadlag_xcorr_math(spark):
    import math

    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_leadlag_xcorr,
    )

    rows = events_leadlag_xcorr(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r["xcorr"] <= 1.0 + 1e-9
        assert r["lag"] in (-2, -1, 0, 1, 2)
    # python replica for one pair/lag
    import collections

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    grid: dict[tuple, int] = collections.Counter()
    for e in ev:
        grid[(e["event_type"], e["ts"].replace(minute=0, second=0, microsecond=0))] += 1
    r0 = rows[0]
    xs, ys = [], []
    import datetime as dt

    for (t, hr), c in grid.items():
        if t == r0["type_a"]:
            other = (r0["type_b"], hr + dt.timedelta(hours=int(r0["lag"])))
            if other in grid:
                xs.append(c)
                ys.append(grid[other])
    n = len(xs)
    assert n == r0["n"]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    want = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert abs(r0["xcorr"] - round(want, 4)) < 1e-9


def test_ohlc_bar_invariants(spark, sf_dir):
    """low <= open/close <= high; volume conservation vs raw count."""
    from mit_6_5840_mapreduce_with_go_spark.operators import timeseries as TS
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table
    from pyspark.sql import functions as F

    rows = TS.events_ohlc_bars(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["low"] <= r["high"]
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["volume"] >= 1
    n_raw = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("event_type") <= "login"))
        .count()
    )
    assert sum(r["volume"] for r in rows) == n_raw


def test_changepoint_python_replica(spark, sf_dir):
    """Exact replica: daily cent-sums, integer-fraction argmax of
    s1^2/n1 + s2^2/n2 — must pick the same split day."""
    from collections import defaultdict

    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_changepoint_binary_seg,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = load_table(spark, sf_dir, "events").select("ts", "value").collect()
    agg = defaultdict(lambda: [0, 0])
    for r in rows:
        if r["value"] is None:
            continue
        d = r["ts"].date()
        agg[d][0] += 1
        agg[d][1] += int(r["value"] * 100 // 1)
    days = sorted(agg)
    NN = sum(v[0] for v in agg.values())
    SS = sum(v[1] for v in agg.values())
    best, n1 = None, 0
    s1 = 0
    for d in days:
        n1 += agg[d][0]
        s1 += agg[d][1]
        n2, s2 = NN - n1, SS - s1
        if n1 == 0 or n2 == 0:
            continue
        num = s1 * s1 * n2 + s2 * s2 * n1
        den = n1 * n2
        if best is None or num * best[2] > best[1] * den:
            best = (d, num, den, n1, n2)
    got = events_changepoint_binary_seg(spark, sf_dir).collect()[0]
    assert got["split_day"] == best[0]
    assert got["n_before"] == best[3] and got["n_after"] == best[4]
