"""Exact-threshold set-similarity join via PREFIX FILTERING (the
PPJoin/AllPairs family — Chaudhuri et al. 2006, Xiao et al. 2008,
public literature): every document pair with shingle-Jaccard >= t,
found WITHOUT the all-pairs product and WITHOUT probabilistic recall
loss — the exact sibling of MinHash-LSH in the dedup toolbox.

The lever is the prefix-filtering theorem: order every document's
shingle set by one GLOBAL total order (rarest-first: ascending
document frequency, ties on the shingle string) and keep only the
first ``p = n - ceil(t*n) + 1`` shingles as its PREFIX; any pair with
Jaccard >= t must share at least one PREFIX shingle.  Candidates
therefore come from a join keyed on prefix shingles only — and since
prefixes are rarest-first, the join keys are precisely the shingles
with the smallest fan-out.  Candidates are then verified EXACTLY
(integer cross-multiplied Jaccard test:
``DEN*i >= NUM*(na+nb-i)`` for t = NUM/DEN — no float in the
decision), after PPJoin's length and positional prunes.

Correctness gate: the DuckDB oracle computes the BRUTE-FORCE truth
(all pairs sharing any shingle, exact Jaccard filter); the Spark side
must reproduce it exactly, which proves candidate-set COMPLETENESS —
a wrong prefix length or a divergent global order drops a pair and
breaks the row-count/hash match.

Scale shape: ordering consumes the exploded element table once (one
s-keyed window for document frequency, one doc_id grouping into
per-doc sorted arrays); the candidate join is keyed on rare prefix
shingles (bounded fan-out by construction); verification touches
candidate pairs only, via two shingle-keyed joins whose shuffle bytes
scale with actual intersections (an array_intersect twin lost at sf1 —
see ppjoin_pairs).  No all-pairs product anywhere — at 100 TB this is
the exact-dedup pass run after LSH triage, or standalone when exact
recall is mandated.

``cc_two_phase`` turns these and the other dedup pairs into clusters:
large-star/small-star rounds that stop at the first star forest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .dedup import _shingles

_T_NUM, _T_DEN = 4, 5  # Jaccard threshold t = 4/5


@query(
    "dedup_ppjoin_shingles",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[p + 1] || ' ' || toks[p + 2] || ' ' || toks[p + 3] AS s
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS p
            FROM t0 WHERE len(toks) >= 3)),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS i
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
    SELECT inter.a, inter.b, i AS inter,
           sa.n AS na, sb.n AS nb,
           CAST(1000000 * i // (sa.n + sb.n - i) AS BIGINT) AS jacc_micro
    FROM inter
    JOIN sz sa ON sa.doc_id = inter.a
    JOIN sz sb ON sb.doc_id = inter.b
    WHERE {_T_DEN} * i >= {_T_NUM} * (sa.n + sb.n - i)
    """,
)
def dedup_ppjoin_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with 3-gram-shingle Jaccard >= 4/5, by prefix
    filtering + exact verification (see module docstring).  The oracle
    is the brute-force truth, so a green row proves the prefix
    candidate set is COMPLETE, not just plausible."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sh = (
        _shingles(docs)
        .select(
            "doc_id",
            "n_shingles",
            F.explode("shingles").alias("s"),
        )
    )
    return ppjoin_pairs(sh)


def ppjoin_pairs(sh: DataFrame) -> DataFrame:
    """The generic PPJoin pipeline over an exploded element table
    ``sh(doc_id, n_shingles, s)`` (one row per doc/element, n_shingles
    = |set|): prefix filtering on the rarest-first global order, then
    the length and positional prunes, then exact integer-Jaccard
    verification.  Returns (a, b, inter, na, nb, jacc_micro) for every
    pair with Jaccard >= _T_NUM/_T_DEN.

    Dataflow (round-12 restructure, three-way A/B at sf0.1 AND sf1; the
    profiling script that held all variants is in git history as
    tools/profile_ppjoin.py):

    - the element DF comes from ONE s-keyed window (count over
      partitionBy(s)) — the agg+join alternative exchanges the
      exploded table twice for the same answer;
    - each doc's rarest-first order is materialized ONCE as a sorted
      array (groupBy + array_sort(collect_list(struct(df, s)))) — no
      row_number window sort over exploded rows;
    - prefixes leave the doc row via posexplode(slice(ord, 1, p)) —
      only ~(1-t)*n elements per doc are ever exploded again;
    - verification stays JOIN-based (_ppjoin_verify): an array-verify
      twin (join candidates to per-doc shingle arrays, count
      size(array_intersect)) won at sf0.1 (6.5 vs 7.1 s, few
      candidates) but LOST at sf1 (57.8-113.6 vs 55.4 s) and went
      superlinear (exponent 1.11) on the adversarial corpus whose
      18.7M raw candidates each carried two full arrays across the
      verify shuffles; join-verification's shuffle bytes scale with
      actual intersections, not candidates x array size."""
    with_df = sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
    ordered = (
        with_df.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "s"))).alias("ord"),
            F.first("n_shingles").alias("n"),
        )
        .select(
            "doc_id", "n", F.expr("transform(ord, x -> x.s)").alias("arr")
        )
        # p = n - ceil(t*n) + 1; with t = NUM/DEN: ceil = (n*NUM+DEN-1) div DEN
        .withColumn(
            "plen",
            (
                F.col("n")
                - ((F.col("n") * _T_NUM + _T_DEN - 1) / _T_DEN).cast("long")
                + 1
            ).cast("int"),
        )
    )
    prefix = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.expr("slice(arr, 1, plen)")).alias("p0", "s"),
    ).select("doc_id", "n", (F.col("p0") + 1).alias("px"), "s")
    # Candidate generation with PPJoin's two extra pruning levers:
    # - LENGTH filter: J >= t forces t*na <= nb and t*nb <= na;
    # - POSITIONAL filter: a match at prefix positions (px, py) bounds
    #   the achievable overlap by 1 + min(na - px, nb - py); the pair
    #   survives only if some witness match leaves room for the
    #   required overlap o = ceil(NUM*(na+nb)/(NUM+DEN)).
    # Both are exact (integer cross-multiplication), so completeness
    # is untouched — the brute-force oracle still pins it.
    x = prefix.select(
        F.col("doc_id").alias("a"), "s", "px", F.col("n").alias("nxa")
    )
    y = prefix.select(
        F.col("doc_id").alias("b"),
        "s",
        F.col("px").alias("py"),
        F.col("n").alias("nxb"),
    )
    cand = (
        x.join(y, "s")
        .filter(F.col("a") < F.col("b"))
        .filter(
            (_T_NUM * F.col("nxa") <= _T_DEN * F.col("nxb"))
            & (_T_NUM * F.col("nxb") <= _T_DEN * F.col("nxa"))
        )
        .withColumn(
            "ub",
            F.lit(1)
            + F.least(
                F.col("nxa") - F.col("px"), F.col("nxb") - F.col("py")
            ),
        )
        .groupBy("a", "b", "nxa", "nxb")
        .agg(F.max("ub").alias("ub"))
        .filter(
            (_T_NUM + _T_DEN) * F.col("ub")
            >= _T_NUM * (F.col("nxa") + F.col("nxb"))
        )
        # set sizes RIDE the candidate rows into verification (they are
        # already grouping keys here, functionally dependent on (a, b)):
        # r13 optimization — the old verify re-derived them via a
        # distinct over the full element table plus TWO extra joins,
        # i.e. one corpus-sized exchange and two join stages for values
        # the candidate generator already held (guide §2.3 "shuffle
        # keys and metadata instead of re-deriving them").
        .select("a", "b", F.col("nxa").alias("na"), F.col("nxb").alias("nb"))
    )
    return _ppjoin_verify(cand, sh)


def _ppjoin_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact integer-Jaccard verification of candidate pairs
    ``cand(a, b, na, nb)``: two shingle-keyed joins count the
    intersection; no float in the decision.

    Set sizes arrive ON the candidate rows (r13): both candidate
    generators already hold |A| and |B| (they apply the length filter),
    and na/nb are functions of (a, b), so carrying them through the
    intersection groupBy costs nothing — while re-deriving them (the
    pre-r13 shape) cost a distinct over the full element table plus two
    join stages."""
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("a"), "s"), "a"
        )
        .join(sh.select(F.col("doc_id").alias("b"), "s"), ["b", "s"])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = inter.filter(
        _T_DEN * F.col("inter")
        >= _T_NUM * (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return out.select(
        "a",
        "b",
        F.col("inter").cast("long").alias("inter"),
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.expr("1000000 * inter div (na + nb - inter)")
        .cast("long")
        .alias("jacc_micro"),
    )


# --------------------------------------------------------------------------
# Candidate-budget kill-switch (round 10, VERDICT r9 #6).  PPJoin's
# candidate work is sum(pf(s)^2) over prefix-element frequencies pf; a
# shingle-dense adversarial input can push a few elements' pf high
# enough to make the self-join quadratic SILENTLY.  The capped variant
# excludes prefix elements with pf > cap from candidate generation
# (bounding per-element work at cap^2, i.e. total work linear in the
# element count) and REPORTS each excluded element as an overflow
# accounting row — worst-case inputs degrade to a flagged partial
# instead of a runaway join, mirroring the MinHash-LSH bucket cap.
#
# Reported subset semantics (what the oracle re-derives exactly):
# a pair appears iff Jaccard >= t AND the pair shares at least one
# NON-overflow prefix element.  The positional prune is NOT applied
# here: its overlap bound is only valid for the first common prefix
# element under the global order, and capping can remove that witness,
# which would turn the prune from exact into lossy.  The length filter
# (pure size arithmetic) remains.
# --------------------------------------------------------------------------

_PPJOIN_CAP = 2  # pinned low so the driver corpus exercises the overflow path


def ppjoin_pairs_capped(
    sh: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame]:
    """PPJoin with a per-prefix-element candidate budget.  Returns
    (verified pairs among capped candidates, overflow census rows
    (s, pf) for prefix elements whose frequency exceeded the cap)."""
    # document frequency as a WINDOW over s (r14): the agg+join form
    # exchanged the element table twice (into the aggregate and into
    # the join) for the same per-element df this single s-clustered
    # window computes — the exact discipline ppjoin_pairs already uses
    # (executed-plan exchanges 24 -> 18, 6.23 -> 5.81 s at sf0.1)
    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("s"))
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
        ),
    )
    prefix_len = (
        F.col("n_shingles")
        - ((F.col("n_shingles") * _T_NUM + _T_DEN - 1) / _T_DEN).cast("long")
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        "doc_id", "s", "n_shingles"
    )
    # prefix frequency as a window over s: ONE s-keyed exchange carries
    # both the budget check and the candidate self-join (vs a separate
    # agg + join, which costs two more exchanges for the same answer)
    pf_col = F.count(F.lit(1)).over(W.partitionBy("s"))
    prefix = prefix.withColumn("pf", pf_col)
    overflow = (
        prefix.filter(F.col("pf") > cap).select("s", "pf").dropDuplicates(["s"])
    )
    pre_ok = prefix.filter(F.col("pf") <= cap)
    x = pre_ok.select(
        F.col("doc_id").alias("a"), "s", F.col("n_shingles").alias("nxa")
    )
    y = pre_ok.select(
        F.col("doc_id").alias("b"), "s", F.col("n_shingles").alias("nxb")
    )
    cand = (
        x.join(y, "s")
        .filter(F.col("a") < F.col("b"))
        .filter(
            (_T_NUM * F.col("nxa") <= _T_DEN * F.col("nxb"))
            & (_T_NUM * F.col("nxb") <= _T_DEN * F.col("nxa"))
        )
        # sizes ride the distinct (functionally dependent on (a, b), so
        # the distinct's cardinality is unchanged) — see _ppjoin_verify
        .select("a", "b", F.col("nxa").alias("na"), F.col("nxb").alias("nb"))
        .distinct()
    )
    return _ppjoin_verify(cand, sh), overflow


@query(
    "dedup_ppjoin_capped",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[p + 1] || ' ' || toks[p + 2] || ' ' || toks[p + 3] AS s
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS p
            FROM t0 WHERE len(toks) >= 3)),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM sh GROUP BY doc_id),
    dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
    ranked AS (
      SELECT sh.doc_id, sh.s,
             row_number() OVER (PARTITION BY sh.doc_id
                                ORDER BY dfq.df ASC, sh.s ASC) AS rn,
             sz.n AS n
      FROM sh JOIN dfq ON dfq.s = sh.s JOIN sz ON sz.doc_id = sh.doc_id),
    prefix AS (
      SELECT * FROM ranked
      WHERE rn <= n - ((n * {_T_NUM} + {_T_DEN} - 1) // {_T_DEN}) + 1),
    pf AS (SELECT s, CAST(count(*) AS BIGINT) AS pf FROM prefix GROUP BY s),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM prefix x
      JOIN prefix y ON x.s = y.s AND x.doc_id < y.doc_id
      JOIN pf ON pf.s = x.s AND pf.pf <= {_PPJOIN_CAP}
      WHERE {_T_NUM} * x.n <= {_T_DEN} * y.n
        AND {_T_NUM} * y.n <= {_T_DEN} * x.n),
    inter AS (
      SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.a
      JOIN sh y ON y.doc_id = c.b AND y.s = x.s
      GROUP BY 1, 2),
    pairs AS (
      SELECT 'pair' AS kind, CAST(NULL AS VARCHAR) AS s,
             inter.a, inter.b, i AS inter, sa.n AS na, sb.n AS nb,
             CAST(1000000 * i // (sa.n + sb.n - i) AS BIGINT) AS jacc_micro
      FROM inter
      JOIN sz sa ON sa.doc_id = inter.a
      JOIN sz sb ON sb.doc_id = inter.b
      WHERE {_T_DEN} * i >= {_T_NUM} * (sa.n + sb.n - i))
    SELECT * FROM pairs
    UNION ALL
    SELECT 'overflow', s, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           pf, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM pf WHERE pf > {_PPJOIN_CAP}
    """,
)
def dedup_ppjoin_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin with the candidate-budget kill-switch engaged (cap
    pinned at _PPJOIN_CAP=2 prefix occurrences so the driver corpus
    exercises the overflow path): verified pairs reachable through in-budget
    prefix elements, UNION the overflow accounting rows.  The oracle
    re-derives BOTH halves — the capped candidate rule and the census —
    so the degraded-mode semantics are pinned cross-engine, not just
    the happy path."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sh = (
        _shingles(docs)
        .select(
            "doc_id",
            "n_shingles",
            F.explode("shingles").alias("s"),
        )
    )
    pairs, overflow = ppjoin_pairs_capped(sh, _PPJOIN_CAP)
    nul = F.lit(None).cast("long")
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"),
        F.lit(None).cast("string").alias("s"),
        "a",
        "b",
        "inter",
        "na",
        "nb",
        "jacc_micro",
    )
    over_rows = overflow.select(
        F.lit("overflow").alias("kind"),
        "s",
        nul.alias("a"),
        nul.alias("b"),
        F.col("pf").cast("long").alias("inter"),
        nul.alias("na"),
        nul.alias("nb"),
        nul.alias("jacc_micro"),
    )
    return pair_rows.unionAll(over_rows)


# --------------------------------------------------------------------------
# PPJoin on a NATURAL-TEXT-SHAPED corpus.  The 3-gram corpus above is
# deliberately adversarial for prefix filtering (shared unigram
# shingles everywhere); this leg measures the claim "prefix filtering
# scales on real text" on a corpus whose element frequencies follow a
# power law, like words in natural language.  The corpus is generated
# from pure integer formulas so the DuckDB oracle re-derives the
# brute-force truth over the IDENTICAL token sets:
#
# - token draw: a 31-bit Knuth-style hash of (doc, position), then
#   ``z = V div (1 + u div S)`` — an exact discrete power law
#   (P(z = k) ~ 1/k^2) — split into S subtokens, so the head token
#   lands at ~0.1% of positions (a realistic "the") and document
#   frequencies span four orders of magnitude.  Integer-only: no libm
#   anywhere near a decision (cross-engine determinism).
# - planted near-dups: every doc with doc_id % 50 == 1 replays the
#   token stream of doc_id - 1 with ~6% of positions re-salted, so
#   word-set Jaccard lands ~0.87 — above the 0.8 threshold; unrelated
#   docs share only head tokens (Jaccard ~0.03).
#
# Prefix selectivity is realistic here: the rarest-first prefix picks
# each document's ~20% rarest tokens, which in a power-law corpus are
# near-unique, so candidate fan-out stays near-linear in corpus size.
# --------------------------------------------------------------------------

_ZV, _ZS = 256, 512  # power-law ranks and subtoken split


def _zipf_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, s): the planted power-law word SETS, all
    JVM-side expressions (sequence + explode + integer hash)."""
    d = docs.select("doc_id").select(
        "doc_id",
        F.expr(
            "doc_id - CASE WHEN doc_id % 50 = 1 THEN 1 ELSE 0 END"
        ).alias("eff"),
        F.expr("CASE WHEN doc_id % 50 = 1 THEN 1 ELSE 0 END").alias("isdup"),
    )
    pos = d.select(
        "doc_id",
        "eff",
        "isdup",
        F.explode(
            F.sequence(F.lit(0), F.expr("CAST(59 + eff % 41 AS INT)"))
        ).alias("p"),
    )
    tok = pos.select(
        "doc_id",
        F.expr(
            f"""
            concat('t', CAST(
              ({_ZV} div (1 + (((((eff * 1000003 + p * 7919
                   + CASE WHEN isdup = 1 AND p % 17 = 0
                          THEN 999331 ELSE 0 END)
                  % 2147483648) * 2654435761) % 2147483648)
                 % {_ZV * _ZS}) div {_ZS})) * {_ZS}
              + (((((eff * 1000003 + p * 7919
                   + CASE WHEN isdup = 1 AND p % 17 = 0
                          THEN 999331 ELSE 0 END)
                  % 2147483648) * 2654435761) % 2147483648)
                 % {_ZV * _ZS}) % {_ZS}
            AS STRING))
            """
        ).alias("s"),
    )
    # one explicit doc_id exchange serves the set-dedup AND the set-size
    # window (subset-clustering satisfaction, no groupBy+join back), and
    # the identical subtree lets every ppjoin_pairs consumer reuse it
    tok = tok.repartition("doc_id").distinct()
    return tok.select(
        "doc_id",
        F.count(F.lit(1))
        .over(W.partitionBy("doc_id"))
        .cast("long")
        .alias("n_shingles"),
        "s",
    )


@query(
    "dedup_ppjoin_zipf",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             doc_id - CASE WHEN doc_id % 50 = 1 THEN 1 ELSE 0 END AS eff,
             CASE WHEN doc_id % 50 = 1 THEN 1 ELSE 0 END AS isdup
      FROM documents),
    pos AS (
      SELECT doc_id,
             ((eff * 1000003 + (t.i - 1) * 7919
               + CASE WHEN isdup = 1 AND (t.i - 1) % 17 = 0
                      THEN 999331 ELSE 0 END)
              % 2147483648) AS x1
      FROM d, unnest(generate_series(1, CAST(60 + eff % 41 AS INT))) AS t(i)),
    tok AS (
      SELECT DISTINCT doc_id,
             't' || CAST(
               ({_ZV} // (1 + (((x1 * 2654435761) % 2147483648)
                               % {_ZV * _ZS}) // {_ZS})) * {_ZS}
               + (((x1 * 2654435761) % 2147483648) % {_ZV * _ZS}) % {_ZS}
             AS VARCHAR) AS s
      FROM pos),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM tok GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS i
      FROM tok x JOIN tok y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
    SELECT inter.a, inter.b, i AS inter,
           sa.n AS na, sb.n AS nb,
           CAST(1000000 * i // (sa.n + sb.n - i) AS BIGINT) AS jacc_micro
    FROM inter
    JOIN sz sa ON sa.doc_id = inter.a
    JOIN sz sb ON sb.doc_id = inter.b
    WHERE {_T_DEN} * i >= {_T_NUM} * (sa.n + sb.n - i)
    """,
)
def dedup_ppjoin_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin over the planted power-law word sets (see the section
    comment): same exact pipeline (``ppjoin_pairs``), natural-text
    element-frequency shape, brute-force oracle truth.  The decade
    measurement for THIS row is the evidence that prefix filtering
    scales on realistically-distributed text."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return ppjoin_pairs(_zipf_token_sets(docs))


# --------------------------------------------------------------------------
# Connected components by alternating LARGE-STAR / SMALL-STAR rounds
# (Kiveris et al., "Connected Components in MapReduce and Beyond",
# 2014 — public).  One-hop min-label propagation needs O(diameter)
# rounds; star contraction converges in O(log n) rounds, which is the
# difference between 15 and 40+ shuffles on a 100 TB chain-shaped dup
# graph; rounds stop at the first star forest.  The package's one CC
# operator: composed here over the PPJoin exact-similarity pairs, and
# over the n-gram-Jaccard and MinHash pairs in clusters.py, curation4.py
# and pipelines.py.
# --------------------------------------------------------------------------


def _symmetric(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every v in Gamma(u) with v > u, m = min(Gamma+(u)).

    min over Gamma+(u) = min(u, min(Gamma(u))) — computed as a WINDOW
    min over partitionBy(u) (r14, guide §2.1): the previous
    groupBy+join shape exchanged the edge set twice per application
    (once into the aggregate, once into the join) for an answer the
    window reads off a single u-clustered exchange.  No orderBy, so no
    sort — whole-partition aggregation only.  Per round this drops one
    edge-set exchange and the join stage entirely (loop min-of-5
    2.79 -> 2.44 s at sf0.1 on identical checkpointed inputs).

    Skew: the window holds a node's whole partition in one task, so a
    hub node's neighbor list sits in a single task (spilling keeps it
    correct); a cluster port should re-check this shape, as for
    ``session.py``'s localCheckpoint note."""
    with_m = edges.withColumn(
        "m", F.least(F.col("u"), F.min("v").over(W.partitionBy("u")))
    )
    return (
        with_m.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every v in Gamma-(u) (neighbors <= u) plus u itself,
    m = min(Gamma-(u) + {u}).

    Same window-instead-of-join shape as ``_large_star``; the per-node
    ``own`` row (u, m) that used to come from the aggregate side of the
    join is emitted by the partition's rn=1 row through a 1-or-2
    element explode (row_number needs an orderBy — ``v`` — but the
    sort is per tiny u-partition and the groupBy+join it replaces
    exchanged the down-edge set twice).  Same hub-node skew note as
    ``_large_star``."""
    w = W.partitionBy("u")
    down2 = (
        edges.filter(F.col("v") <= F.col("u"))
        .withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
        .withColumn("rn", F.row_number().over(w.orderBy("v")))
    )
    exploded = down2.select(
        F.explode(
            F.when(
                F.col("rn") == 1,
                F.array(
                    F.struct(F.col("v").alias("nu"), F.col("m").alias("nv")),
                    F.struct(F.col("u").alias("nu"), F.col("m").alias("nv")),
                ),
            ).otherwise(
                F.array(F.struct(F.col("v").alias("nu"), F.col("m").alias("nv")))
            )
        ).alias("e")
    ).select(F.col("e.nu").alias("u"), F.col("e.nv").alias("v"))
    return exploded.filter(F.col("u") != F.col("v")).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """True when the strictly descending edge set ``edges(u, v)`` is a
    star forest: no node has two out-edges and no edge's target has an
    out-edge.  One aggregate over each node's (out, in) degree."""
    deg = (
        edges.select(F.col("u").alias("n"), F.lit(1).alias("o"), F.lit(0).alias("i"))
        .union(edges.select(F.col("v").alias("n"), F.lit(0).alias("o"), F.lit(1).alias("i")))
        .groupBy("n")
        .agg(F.sum("o").alias("o"), F.sum("i").alias("i"))
    )
    return deg.filter((F.col("o") > 1) | ((F.col("o") > 0) & (F.col("i") > 0))).isEmpty()


def cc_two_phase(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """pairs(a, b) -> (doc_id, cluster_id = component minimum), by
    alternating large-star/small-star rounds until the edge set is a
    star forest.  Both operators preserve connectivity and emit strictly
    descending edges, so then each root is its component's minimum and
    every other node has one edge, to that root: the labels are final.
    Exhausting ``max_rounds`` first raises instead of silently emitting
    unconverged labels."""
    def resym(e: DataFrame) -> DataFrame:
        # no distinct: both star operators emit strictly descending,
        # deduplicated edges, so e and its reverse are disjoint
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    # materialize the pair source ONCE: _symmetric's union reads it
    # twice, and without the checkpoint the PPJoin upstream ran twice
    # at sf1 (98.6 s vs ~52 s for the join)
    pairs = pairs.localCheckpoint()
    sym = _symmetric(pairs)
    for _ in range(max_rounds):
        # the star operators see each edge from both endpoints; only the
        # small-star output is checkpointed, the next resym stays lazy
        edges = _small_star(resym(_large_star(sym))).localCheckpoint()
        if _is_star_forest(edges):
            break
        sym = resym(edges)
    else:
        raise RuntimeError(
            f"cc_two_phase: no confirmed fixpoint within {max_rounds} "
            "rounds — labels would be unconverged"
        )
    # each edge labels its source; each root labels itself
    labels = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return labels.union(roots)


@query(
    "dedup_cc_two_phase",
    oracle=f"""
    WITH RECURSIVE t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[p + 1] || ' ' || toks[p + 2] || ' ' || toks[p + 3] AS s
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS p
            FROM t0 WHERE len(toks) >= 3)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT a, b FROM inter
      JOIN sz sa ON sa.doc_id = inter.a
      JOIN sz sb ON sb.doc_id = inter.b
      WHERE {_T_DEN} * i >= {_T_NUM} * (sa.n + sb.n - i)),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION SELECT b, a FROM pairs),
    reach AS (
      SELECT src AS doc_id, dst AS r FROM edges
      UNION SELECT doc_id, doc_id FROM (SELECT DISTINCT src AS doc_id
                                        FROM edges)
      UNION
      SELECT reach.doc_id, edges.dst
      FROM reach JOIN edges ON edges.src = reach.r)
    SELECT CAST(min(r) AS BIGINT) AS cluster_id,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_members
    FROM (SELECT doc_id, min(r) AS r FROM reach GROUP BY doc_id) x
    GROUP BY x.r
    """,
)
def dedup_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster census over the PPJoin exact-similarity graph,
    with components found by large-star/small-star contraction (see
    ``cc_two_phase``).  The recursive-CTE oracle computes the
    transitive-closure truth; the star contraction must land on the
    identical component partition (canonical member = minimum id)."""
    pairs = dedup_ppjoin_shingles(spark, sf_dir).select("a", "b")
    labels = cc_two_phase(pairs)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    ).select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("n_members").cast("long").alias("n_members"),
    )
