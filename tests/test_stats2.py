"""chi-square + correlation matrix: named oracle spot checks (every query
is in test_oracles.py) and numpy/scipy-free Python replicas."""

from __future__ import annotations

from mit_6_5840_mapreduce_with_go_spark.operators import stats2 as S2
from mit_6_5840_mapreduce_with_go_spark.registry import ORACLES
from mit_6_5840_mapreduce_with_go_spark.sources import load_table

from conftest import assert_df_matches_oracle


def test_chi2_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_chi2_independence(spark, sf_dir), duck,
        ORACLES["stats_chi2_independence"],
    )


def test_chi2_python_replica(spark, sf_dir):
    rows = load_table(spark, sf_dir, "documents").select("lang", "source").collect()
    from collections import Counter

    o = Counter((r["lang"], r["source"]) for r in rows)
    rt = Counter(r["lang"] for r in rows)
    ct = Counter(r["source"] for r in rows)
    n = len(rows)
    chi2_micro = 0
    for lang in rt:
        for src in ct:
            e = rt[lang] * ct[src] * 1.0 / n
            obs = o.get((lang, src), 0)
            chi2_micro += int((obs - e) * (obs - e) / e * 1_000_000)
    got = S2.stats_chi2_independence(spark, sf_dir).collect()[0]
    assert got["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert got["n_cells"] == len(rt) * len(ct)
    assert abs(got["chi2"] - chi2_micro / 1_000_000.0) < 1e-3


def test_corr_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_correlation_matrix(spark, sf_dir), duck,
        ORACLES["stats_correlation_matrix"],
    )


def test_corr_python_replica(spark, sf_dir):
    import math

    rows = load_table(spark, sf_dir, "lineitem").select(*S2._CORR_COLS).collect()
    q = {
        c: [int(math.floor(float(r[c]) * 100)) for r in rows] for c in S2._CORR_COLS
    }
    got = {
        (r["col_a"], r["col_b"]): r["pearson_r"]
        for r in S2.stats_correlation_matrix(spark, sf_dir).collect()
    }
    from itertools import combinations

    for a, b in combinations(S2._CORR_COLS, 2):
        xa, xb = q[a], q[b]
        n = len(xa)
        sa, sb = sum(xa), sum(xb)
        ssa, ssb = sum(v * v for v in xa), sum(v * v for v in xb)
        sp = sum(x * y for x, y in zip(xa, xb))
        r = (n * sp - sa * sb) / (
            math.sqrt(n * ssa - sa * sa) * math.sqrt(n * ssb - sb * sb)
        )
        assert abs(got[(a, b)] - round(r, 6)) < 1e-5
        assert -1.0 <= got[(a, b)] <= 1.0


def test_winsorized_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_winsorized_moments(spark, sf_dir), duck,
        ORACLES["stats_winsorized_moments"],
    )


def test_winsorized_shrinks_std(spark, sf_dir):
    r = S2.stats_winsorized_moments(spark, sf_dir).collect()[0]
    assert r["p01"] <= r["p99"]
    assert r["std_wins"] <= r["std_raw"]
    assert r["p01"] <= r["mean_wins"] <= r["p99"]


def test_ks_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_ks_two_sample(spark, sf_dir), duck,
        ORACLES["stats_ks_two_sample"],
    )


def test_ks_python_replica(spark, sf_dir):
    """Binned-CDF KS replicated in plain Python."""
    from pyspark.sql import functions as F

    rows = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin(S2._KS_A, S2._KS_B)
        )
        .select("event_type", "value")
        .collect()
    )
    vals = [(r["event_type"], r["value"]) for r in rows]
    mn = min(v for _, v in vals)
    mx = max(v for _, v in vals)
    B = S2._KS_BINS
    ca = [0] * B
    cb = [0] * B
    for t, v in vals:
        b = min(B - 1, int((v - mn) * B / (mx - mn)))
        (ca if t == S2._KS_A else cb)[b] += 1
    na, nb = sum(ca), sum(cb)
    d, xa, xb = 0.0, 0, 0
    for i in range(B):
        xa += ca[i]
        xb += cb[i]
        d = max(d, abs(xa / na - xb / nb))
    got = S2.stats_ks_two_sample(spark, sf_dir).collect()[0]
    assert got["n_a"] == na and got["n_b"] == nb
    assert abs(got["ks_d"] - round(d, 6)) < 1e-5


def test_gini_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_lorenz_gini(spark, sf_dir), duck, ORACLES["stats_lorenz_gini"]
    )


def test_gini_bounds_and_exact_comparison(spark, sf_dir):
    """Binned Gini must sit close to the exact (sorted) Gini and inside
    [0, 1)."""
    from pyspark.sql import functions as F

    rows = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("c"))
        .collect()
    )
    xs = sorted(r["c"] for r in rows)
    n, s = len(xs), sum(xs)
    # exact Gini via the sorted formula
    exact = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s) / (
        n * s
    )
    got = S2.stats_lorenz_gini(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n
    assert 0.0 <= got["gini"] < 1.0
    assert abs(got["gini"] - exact) < 0.02  # within binning error


def test_bootstrap_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_poisson_bootstrap_ci(spark, sf_dir), duck,
        ORACLES["stats_poisson_bootstrap_ci"],
    )


def test_bootstrap_ci_contains_estimate(spark, sf_dir):
    r = S2.stats_poisson_bootstrap_ci(spark, sf_dir).collect()[0]
    assert r["n_replicas"] == S2._PB_B
    assert r["ci_lo"] <= r["ci_hi"]
    # a 90% bootstrap CI on a mean should straddle the point estimate
    assert r["ci_lo"] <= r["estimate"] <= r["ci_hi"]
    # and be non-degenerate but not absurdly wide (CLT scale check)
    width = r["ci_hi"] - r["ci_lo"]
    assert 0 < width < r["estimate"]


def test_did_matches_oracle(spark, sf_dir, duck):
    assert_df_matches_oracle(
        S2.stats_diff_in_diff(spark, sf_dir), duck,
        ORACLES["stats_diff_in_diff"],
    )


def test_did_python_replica(spark, sf_dir):
    from datetime import datetime

    rows = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    first = {}
    for r in rows:
        first.setdefault(r["user_id"], r["event_type"])
    cut = datetime.fromisoformat(S2._DID_CUT)
    cells = {}
    for r in rows:
        if r["value"] is None:
            continue
        t = int(first[r["user_id"]] == S2._DID_TREAT_FIRST)
        p = int(r["ts"] >= cut)
        c = cells.setdefault((t, p), [0, 0])
        c[0] += 1
        c[1] += int(r["value"] * 1_000_000 // 1)
    import math

    m = {k: v[1] / v[0] / 1e6 for k, v in cells.items()}
    want = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    got = S2.stats_diff_in_diff(spark, sf_dir).collect()[0]
    assert abs(got["did_estimate"] - round(want, 6)) < 2e-5
    assert got["n_obs"] == sum(v[0] for v in cells.values())


def test_percentile_approx_matches_quantile_disc_convention(spark):
    """stats_winsorized_moments / stats_poisson_bootstrap_ci /
    eval_conformal_coverage assume Spark `percentile_approx(c, p,
    2147483647)` picks the SAME order statistic as DuckDB
    `quantile_disc(c, p)`.  That rank-convention equality is not a
    documented identity of either engine, so pin it with a property
    sweep: many group sizes (1..~400, odd/even, with ties), several
    fractions, exact integer values — any off-by-one rank divergence
    fails loudly here before it can flip a clamp/coverage boolean.
    """
    import duckdb
    from pyspark.sql import functions as F

    ps = [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
    rows = []
    # deterministic LCG so both engines see identical data; sizes cover
    # n=1, tiny odd/even, prime, and larger-with-heavy-ties regimes
    for grp, n in enumerate([1, 2, 3, 4, 5, 7, 8, 16, 17, 100, 101, 128, 199, 256, 400]):
        x = 12345 + grp
        for _ in range(n):
            x = (1103515245 * x + 12345) % (2**31)
            # modulus varies per group: small modulus => many ties
            rows.append((grp, x % (10 if grp % 3 == 0 else 10_000)))
    df = spark.createDataFrame(rows, "grp int, c long")
    got = (
        df.groupBy("grp")
        .agg(
            *[
                F.expr(f"percentile_approx(c, {p}, 2147483647)").alias(f"q{i}")
                for i, p in enumerate(ps)
            ]
        )
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp INT, c BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    qcols = ", ".join(f"quantile_disc(c, {p}) AS q{i}" for i, p in enumerate(ps))
    want = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT grp, {qcols} FROM t GROUP BY grp ORDER BY grp"
        ).fetchall()
    }
    for r in got:
        for i, p in enumerate(ps):
            assert r[f"q{i}"] == want[r["grp"]][i], (
                f"grp={r['grp']} p={p}: spark={r[f'q{i}']} duckdb={want[r['grp']][i]}"
            )
