"""Eval operators: independent Python references (exact rank AUC,
confusion-matrix identities, calibration conservation); oracle parity
is test_oracles.py."""

from __future__ import annotations

from mit_6_5840_mapreduce_with_go_spark.operators import evaluation as E


def _exact_rank_auc(pairs: list[tuple[int, int]]) -> float:
    """Mann-Whitney AUC with half-credit ties, O(n log n) reference."""
    pos = sorted(s for s, y in pairs if y == 1)
    neg = sorted(s for s, y in pairs if y == 0)
    import bisect

    num = 0.0
    for s in pos:
        lo = bisect.bisect_left(neg, s)
        hi = bisect.bisect_right(neg, s)
        num += lo + (hi - lo) / 2.0
    return num / (len(pos) * len(neg))


def test_binned_auc_close_to_exact(spark, sf_dir):
    """The 256-bin histogram AUC must sit within the max binning error
    of the exact rank AUC (and exactly equal it when every bin holds
    one distinct score)."""
    scored = [(r["s"], r["y"]) for r in E._scored(spark, sf_dir).collect()]
    exact = _exact_rank_auc(scored)
    row = E.eval_quality_auc(spark, sf_dir).collect()[0]
    assert row["n_pos"] == sum(1 for _, y in scored if y == 1)
    assert row["n_neg"] == sum(1 for _, y in scored if y == 0)
    assert abs(row["auc"] - exact) < 0.02
    assert abs(row["gini"] - (2 * row["auc"] - 1)) < 1e-5


def test_threshold_sweep_identities(spark, sf_dir):
    rows = E.eval_threshold_sweep(spark, sf_dir).collect()
    n = None
    prev_tp = None
    for r in sorted(rows, key=lambda r: r["thr_micros"]):
        total = r["tp"] + r["fp"] + r["fn"] + r["tn"]
        n = n or total
        assert total == n  # conservation at every threshold
        if prev_tp is not None:
            assert r["tp"] <= prev_tp  # raising the cutoff never adds TPs
        prev_tp = r["tp"]
        if r["tp"] + r["fp"] > 0:
            assert 0.0 <= r["precision"] <= 1.0
        assert 0.0 <= r["recall"] <= 1.0


def test_calibration_conserves_docs(spark, sf_dir):
    rows = E.eval_calibration_bins(spark, sf_dir).collect()
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    assert sum(r["n_docs"] for r in rows) == load_table(
        spark, sf_dir, "documents"
    ).count()
    for r in rows:
        assert 0.0 <= r["mean_pred"] <= 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(r["gap"] - round(abs(r["mean_pred"] - r["frac_pos"]), 6)) <= 1e-6


def test_conformal_coverage_near_alpha(spark, sf_dir):
    """Split-conformal guarantee: coverage should sit near alpha for a
    stationary stream (events are synthetic-stationary); allow slack for
    per-type small test sets."""
    rows = E.eval_conformal_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["coverage"] <= 1.0
        assert r["n_covered"] <= r["n_test"]
        if r["n_test"] >= 200:
            assert abs(r["coverage"] - E._CF_ALPHA) < 0.1
