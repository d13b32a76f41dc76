"""Timeseries operators: the semantic invariants (grid density, LOCF
correctness) that test_oracles.py's hash-compare alone would not
explain if they broke."""

from __future__ import annotations

import datetime as dt

from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES, load_all

load_all()


def test_gap_fill_grid_is_dense_and_locf(spark, sf_dir):
    rows = QUERIES["events_gap_fill_hourly"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, urows in by_user.items():
        urows.sort(key=lambda r: r["hour"])
        hours = [dt.datetime.strptime(r["hour"], "%Y-%m-%d %H:%M:%S") for r in urows]
        # dense: consecutive grid points are exactly 1 hour apart
        for a, b in zip(hours, hours[1:]):
            assert b - a == dt.timedelta(hours=1), user
        # endpoints are observations, not gaps; fill never yields NULL
        assert not urows[0]["is_gap"] and not urows[-1]["is_gap"]
        assert all(r["filled_value"] is not None for r in urows)
        # LOCF: a gap row repeats the previous filled value
        for prev, cur in zip(urows, urows[1:]):
            if cur["is_gap"]:
                assert cur["filled_value"] == prev["filled_value"]


def test_forward_asof_matches_oracle(spark, sf_dir):
    """Left as-of semantics on the query's own rows; its oracle compare
    is ``test_oracles.py``'s case of the same name."""
    df = QUERIES["asof_join_next_purchase_after_error"](spark, sf_dir)
    rows = df.collect()
    # left semantics: every probe error appears exactly once
    assert len(rows) == len({r["event_id"] for r in rows})
    # the tolerance window must be NON-vacuous: some match, some don't
    matched = [r for r in rows if r["purchase_event_id"] is not None]
    assert 0 < len(matched) < len(rows)
    assert all(0 <= r["secs_ahead"] <= 24 * 3600 for r in matched)


def test_forward_asof_is_hash_agg_not_window(spark, sf_dir):
    plan = (
        QUERIES["asof_join_next_purchase_after_error"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_rate_anomaly_flags_are_real(spark, sf_dir):
    """Every flagged (user, hour) really exceeds that user's mean + 2
    sigma recomputed independently in Python; non-vacuous."""
    import math
    from collections import defaultdict

    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_rate_anomaly,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = events_rate_anomaly(spark, sf_dir).collect()
    assert len(rows) > 0
    ev = load_table(spark, sf_dir, "events").collect()
    hours = defaultdict(int)
    for r in ev:
        hours[(r["user_id"], r["ts"].replace(minute=0, second=0, microsecond=0))] += 1
    per_user = defaultdict(list)
    for (u, _h), n in hours.items():
        per_user[u].append(n)
    flagged = {(r["user_id"], r["hour"]) for r in rows}
    for u, ns in per_user.items():
        if len(ns) < 2:
            continue
        m = sum(ns) / len(ns)
        var = (sum(n * n for n in ns) - sum(ns) ** 2 / len(ns)) / (len(ns) - 1)
        if var <= 0:
            continue
        for (uu, h), n in hours.items():
            if uu != u:
                continue
            want = n > m + 2 * math.sqrt(var)
            got = (u, h.strftime("%Y-%m-%d %H:%M:%S")) in flagged
            assert got == want, (u, h, n, m, var)


def test_funnel_is_monotone_and_strictly_ordered(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_funnel_conversion,
    )

    r = events_funnel_conversion(spark, sf_dir).collect()[0]
    assert r["n_view"] >= r["n_view_click"] >= r["n_view_click_purchase"] > 0
    assert 0.0 < r["conversion"] <= 1.0


def test_value_trend_matches_numpy_lstsq(spark, sf_dir):
    """OLS slope/intercept per event type equals numpy's closed form on
    the same (hour, cent) pairs."""
    import numpy as np

    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_value_trend,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    pdf = ev.toPandas()
    epoch = np.datetime64("2024-01-01T00:00:00")
    pdf["h"] = ((pdf["ts"].values - epoch) / np.timedelta64(1, "s") // 3600).astype(
        "int64"
    )
    pdf["c"] = np.round(pdf["value"] * 100).astype("int64")
    for r in events_value_trend(spark, sf_dir).collect():
        g = pdf[pdf["event_type"] == r["event_type"]]
        slope, intercept = np.polyfit(g["h"], g["c"], 1)
        assert abs(r["slope_per_hour"] - slope / 100.0) < 1e-4
        assert abs(r["intercept"] - intercept / 100.0) < 1e-2
        assert r["n"] == len(g)


def test_value_outliers_match_numpy_fences(spark, sf_dir):
    """Tukey fences and outlier counts equal a numpy recompute with
    linear-interpolated quartiles on integer cents."""
    import numpy as np

    from mit_6_5840_mapreduce_with_go_spark.operators.timeseries import (
        events_value_outliers,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pdf = ev.toPandas()
    pdf["c"] = np.round(pdf["value"] * 100).astype("int64")
    for r in events_value_outliers(spark, sf_dir).collect():
        c = pdf[pdf["event_type"] == r["event_type"]]["c"].values
        q1, q3 = np.percentile(c, [25, 75], method="linear")
        iqr = q3 - q1
        n_out = int(((c < q1 - 1.5 * iqr) | (c > q3 + 1.5 * iqr)).sum())
        assert r["n"] == len(c)
        assert abs(r["q1"] - q1 / 100.0) < 1e-6
        assert abs(r["q3"] - q3 / 100.0) < 1e-6
        assert r["n_outliers"] == n_out
