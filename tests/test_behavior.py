

def test_welch_t_matches_numpy(spark, sf_dir):
    """Cross-check the exact-moment Welch computation against a direct
    numpy recompute on the raw cent values."""
    import numpy as np

    from mit_6_5840_mapreduce_with_go_spark.operators.behavior import (
        _AB_A,
        _AB_B,
        events_ab_welch_t,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    r = events_ab_welch_t(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    a = np.array([round(x["value"] * 100) for x in ev if x["event_type"] == _AB_A]) / 100.0
    b = np.array([round(x["value"] * 100) for x in ev if x["event_type"] == _AB_B]) / 100.0
    assert r["n_a"] == len(a) and r["n_b"] == len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    df = se2**2 / (
        va**2 / (len(a) ** 2 * (len(a) - 1)) + vb**2 / (len(b) ** 2 * (len(b) - 1))
    )
    assert abs(r["t_stat"] - t) < 1e-3
    assert abs(r["welch_df"] - df) < 1e-1
    assert abs(r["mean_a"] - a.mean()) < 1e-3


def test_attribution_conservation(spark, sf_dir):
    import pyspark.sql.functions as F

    from mit_6_5840_mapreduce_with_go_spark.operators.behavior import (
        events_attribution_models,
    )

    rows = events_attribution_models(spark, sf_dir).collect()
    assert rows
    total_purchase_cents = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(F.sum(F.round(F.col("value") * 100).cast("long")))
        .first()[0]
    )
    n_purchases = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    # both models attribute EVERY purchase exactly once (conservation)
    assert sum(r["first_touch_cents"] for r in rows) == total_purchase_cents
    assert sum(r["last_touch_cents"] for r in rows) == total_purchase_cents
    assert sum(r["n_first"] for r in rows) == n_purchases
    assert sum(r["n_last"] for r in rows) == n_purchases
    # 'direct' only exists under last-touch (a session can't START with
    # a null first touch)
    direct = [r for r in rows if r["touch_type"] == "direct"]
    if direct:
        assert direct[0]["n_first"] == 0


def test_journey_similarity_python_replay(spark, sf_dir):
    """Replay trigram cosine for a few pairs in plain Python."""
    import math

    from mit_6_5840_mapreduce_with_go_spark.operators import behavior as B
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = sorted(
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < B._UJ_USERS)
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    seqs: dict[int, list[str]] = {}
    for r in ev:
        seqs.setdefault(r["user_id"], []).append(r["event_type"])

    def grams(s):
        out: dict[str, int] = {}
        for i in range(len(s) - 2):
            g = ">".join(s[i : i + 3])
            out[g] = out.get(g, 0) + 1
        return out

    gv = {u: grams(s) for u, s in seqs.items()}
    rows = B.behavior_journey_similarity(spark, sf_dir).collect()
    assert rows
    for r in rows[:20]:
        ga, gb = gv[r["user_a"]], gv[r["user_b"]]
        dp = sum(c * gb.get(g, 0) for g, c in ga.items())
        na = math.sqrt(sum(c * c for c in ga.values()))
        nb = math.sqrt(sum(c * c for c in gb.values()))
        assert abs(r["journey_cos"] - round(dp / (na * nb), 4)) < 2e-4


def test_pattern_sessions_python_replay(spark, sf_dir):
    """Replay sessionization + regex matching in plain Python."""
    import re as _re
    from datetime import timedelta

    from mit_6_5840_mapreduce_with_go_spark.operators import behavior as B
    from mit_6_5840_mapreduce_with_go_spark.operators.sessions import (
        SESSION_GAP_MIN,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    gap = timedelta(minutes=SESSION_GAP_MIN)
    seqs = []
    cur, last = None, None
    for r in ev:
        key = r["user_id"]
        if cur is None or key != cur[0] or r["ts"] - last >= gap:
            seqs.append([key, ""])
            cur = seqs[-1]
        cur[1] += r["event_type"][0]
        seqs[-1][1] = cur[1]
        last = r["ts"]
        cur[0] = key
    strings = [s for _, s in seqs]
    got = {
        r["pattern_name"]: (r["n_matched"], r["n_sessions"])
        for r in B.events_pattern_sessions(spark, sf_dir).collect()
    }
    for name, pat in B._SP_PATTERNS:
        want = sum(1 for s in strings if _re.search(pat, s))
        assert got[name] == (want, len(strings)), (name, got[name], want)


def test_kaplan_meier_python_replica(spark, sf_dir):
    """Replay the KM estimator in plain Python (lifelines-free)."""
    from mit_6_5840_mapreduce_with_go_spark.operators import behavior as B
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .collect()
    )
    t0, tp = {}, {}
    tend = max(r["ts"] for r in rows)
    for r in rows:
        u = r["user_id"]
        if u not in t0 or r["ts"] < t0[u]:
            t0[u] = r["ts"]
        if r["event_type"] == "purchase" and (u not in tp or r["ts"] < tp[u]):
            tp[u] = r["ts"]
    obs = []
    for u, s in t0.items():
        if u in tp:
            obs.append((int((tp[u] - s).total_seconds() // 3600), 1))
        else:
            obs.append((int((tend - s).total_seconds() // 3600), 0))
    from collections import Counter

    here = Counter(h for h, _ in obs)
    events = Counter(h for h, c in obs if c)
    surv, want = 1.0, {}
    at_risk = len(obs)
    for h in sorted(here):
        d = events.get(h, 0)
        if d:
            surv *= 1.0 - d / at_risk
            want[h] = (at_risk, d, round(surv, 6))
        at_risk -= here[h]
    got = {
        r["hour"]: (r["n_risk"], r["n_events"], r["survival"])
        for r in B.events_kaplan_meier(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for h, (nr, ne, s) in want.items():
        assert got[h][0] == nr and got[h][1] == ne
        assert abs(got[h][2] - s) < 2e-6
    # survival is non-increasing over the step hours
    hs = sorted(got)
    for a, b in zip(hs, hs[1:]):
        assert got[b][2] <= got[a][2] + 1e-9
