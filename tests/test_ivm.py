"""IVM join-view maintenance + apriori triples: the delta identity /
downward-closure invariants (oracle parity is test_oracles.py)."""

from __future__ import annotations

from mit_6_5840_mapreduce_with_go_spark.operators import ivm as IV
from mit_6_5840_mapreduce_with_go_spark.operators import market as M


def test_ivm_identity_holds_everywhere(spark, sf_dir):
    rows = IV.maintenance_ivm_join_view(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["matches_full_recompute"] is True
        assert r["after_n"] == r["before_n"] + r["delta_n"]
        assert r["after_cents"] > 0


def test_triples_downward_closure(spark, sf_dir):
    """Every frequent triple's three sub-pairs must be frequent at the
    PAIR threshold used for rule mining (downward closure), and triple
    support can never exceed any sub-pair's support."""
    triples = IV.basket_frequent_triples(spark, sf_dir).collect()
    assert triples
    pairs = {
        (r["brand_a"], r["brand_b"]): r["support"]
        for r in M.basket_association_rules(spark, sf_dir).collect()
    }
    for t in triples[:100]:
        for pa, pb in [(t["b1"], t["b2"]), (t["b1"], t["b3"]), (t["b2"], t["b3"])]:
            if (pa, pb) in pairs:  # rules op uses a higher floor (0.01)
                assert t["support"] <= pairs[(pa, pb)] + 1e-9
        assert t["b1"] < t["b2"] < t["b3"]
        assert t["support"] >= IV._FT_MIN_SUPPORT


def test_agg_retraction_identity_and_group_vanishes(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.ivm import (
        _IVM_GONE_PRIO,
        _IVM_GONE_STATUS,
        maintenance_ivm_agg_retraction,
    )

    rows = maintenance_ivm_agg_retraction(spark, sf_dir).collect()
    assert rows, "empty view"
    assert all(r["matches_full_recompute"] for r in rows)
    assert all(r["n"] > 0 for r in rows)
    # the fully-retracted group must have vanished from BOTH sides
    assert not any(
        r["status"] == _IVM_GONE_STATUS and r["prio"] == _IVM_GONE_PRIO
        for r in rows
    )
