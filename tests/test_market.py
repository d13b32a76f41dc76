"""Association rules + Markov next-event eval: independent invariants
(oracle parity is test_oracles.py)."""

from __future__ import annotations

from mit_6_5840_mapreduce_with_go_spark.operators import market as M
from mit_6_5840_mapreduce_with_go_spark.sources import load_table


def test_rules_probability_identities(spark, sf_dir):
    """confidence = support(pair)/support(A); lift symmetric in the
    direction sense lift(A,B) = conf(A->B)/support(B)."""
    rows = M.basket_association_rules(spark, sf_dir).collect()
    assert rows, "no rules above min support"
    n_orders = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert r["support"] >= M._AR_MIN_SUPPORT
        assert 0 < r["confidence"] <= 1.0
        assert r["lift"] > 0
        assert abs(r["support"] - round(r["n_pair"] / n_orders, 6)) < 1e-6
        assert r["brand_a"] < r["brand_b"]


def test_markov_python_replay(spark, sf_dir):
    """Replay train/predict/score in plain Python over collected events."""
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    from datetime import datetime

    split = datetime.fromisoformat(M._MK_SPLIT)
    train: dict[str, dict[str, int]] = {}
    test: list[tuple[str, str]] = []
    for a, b in zip(ev, ev[1:]):
        if a["user_id"] != b["user_id"]:
            continue
        if b["ts"] <= split:
            train.setdefault(a["event_type"], {}).setdefault(b["event_type"], 0)
            train[a["event_type"]][b["event_type"]] += 1
        else:
            test.append((a["event_type"], b["event_type"]))
    model = {
        p: min(cs, key=lambda t: (-cs[t], t)) for p, cs in train.items()
    }
    want: dict[str, list[int]] = {}
    for p, actual in test:
        if p not in model:
            continue
        w = want.setdefault(p, [0, 0])
        w[0] += 1
        w[1] += int(actual == model[p])
    got = {
        r["prev_type"]: (r["pred"], r["n_test"], r["n_correct"])
        for r in M.eval_markov_next_event(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for p, (n, c) in want.items():
        assert got[p] == (model[p], n, c)
