"""Label-propagation community detection — the fifth graph primitive
(after connected components, PageRank, triangle census, and k-hop BFS in
operators/clusters.py), over the same user co-activity graph.

No reference counterpart (SURVEY.md §2.D): LPA (Raghavan et al. 2007,
public) is the standard near-linear community detector for massive
graphs — each round is one neighbor join + one majority vote, which is
exactly the repeated-MapReduce shape the reference's engine family runs
iterative workloads in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

from .clusters import _GRAPH_COHORT, _TRI_DEG_CAP, _TRI_MULT

_LPA_ITERS = 2  # fixed + unrolled so the SQL oracle replays identically

_EDGES_DUCK = f"""
    slots AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h,
                              event_type FROM events WHERE user_id < {_GRAPH_COHORT}),
    pairs AS (SELECT a.user_id AS u, b.user_id AS v,
                     CAST(count(*) AS BIGINT) AS w
              FROM slots a JOIN slots b
                ON a.h = b.h AND a.event_type = b.event_type
               AND a.user_id < b.user_id
              GROUP BY 1, 2),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS sw, CAST(count(*) AS BIGINT) AS c
          FROM pairs),
    e0 AS (SELECT u, v, w FROM pairs, t WHERE w >= {_TRI_MULT} * sw / c),
    dir AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
    e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u
              ORDER BY w DESC, v) AS rn FROM dir)
          WHERE rn <= {_TRI_DEG_CAP}),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)"""

_LPA_STEP_DUCK = """
    votes{i} AS (
      SELECT sym.u AS node, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM sym JOIN l{prev} l ON l.node = sym.v
      GROUP BY 1, 2),
    l{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab) AS rn
        FROM votes{i}) WHERE rn = 1)"""


def _coactivity_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized co-activity edge list — the SHARED derivation
    exported by clusters.py (one definition for the triangle census,
    k-hop BFS, and LPA)."""
    from .clusters import coactivity_edges

    e = coactivity_edges(spark, sf_dir)
    return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


@query(
    "graph_lpa_communities",
    oracle=f"""
    WITH {_EDGES_DUCK},
    l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
    {_LPA_STEP_DUCK.format(i=1, prev=0)},
    {_LPA_STEP_DUCK.format(i=2, prev=1)}
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS min_member
    FROM l2 GROUP BY lab
    """,
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation ({it} fixed rounds): every node
    starts labeled with its own id; each round it adopts the MAJORITY
    label among its neighbors, ties to the smallest label.  Fixed round
    count + deterministic tie-break make the run replayable, so the SQL
    oracle unrolls the identical {it} rounds.  Output: per-community
    size and smallest member.

    Scale: each round is one hash join (edges x labels, both keyed on
    node id — the same partitioning reused round over round) + one
    (node, label) count + one per-node argmax as a hash-agg
    max(struct(c, -lab)) — map-side combinable, NO window sort over the
    data.  This is the canonical near-linear community detector for
    billion-edge graphs; rounds would iterate with localCheckpoint
    lineage truncation exactly like cc_two_phase (dedup2.py).
    """.format(it=_LPA_ITERS)
    # localCheckpoint, not persist (r13): persist leaves the full plan
    # in place, so the unrolled rounds re-embedded the edge derivation
    # per iteration; checkpointing the edge set once and the node-sized
    # label table per round keeps every round's plan constant-size
    # (the lineage truncation the docstring above promises).
    sym = _coactivity_sym_edges(spark, sf_dir).localCheckpoint()
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    for _ in range(_LPA_ITERS):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"),
                        (-F.col("lab")).alias("neg_lab"),
                        F.col("lab").alias("lab"),
                    )
                ).alias("b")
            )
            .select("node", F.col("b.lab").alias("lab"))
            .localCheckpoint()
        )
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_member"),
    )
