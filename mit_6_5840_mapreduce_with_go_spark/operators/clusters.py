"""Duplicate-cluster resolution: connected components over near-dup
candidate pairs — the step that turns pairwise dedup output
(MinHash/Jaccard pairs) into "keep one doc per cluster" decisions.

This is a genuinely iterative algorithm (the canonical example of a
non-SQL-expressible op — SURVEY.md/driver contract allows rows-only
checks for these). Components come from ``dedup2.cc_two_phase``:
alternating large-star/small-star rounds, each checkpointed, until the
edge set is a star forest (each node points straight at its
component's root), labelling every doc with the smallest doc_id
reachable through the pair graph.

Scale notes: star contraction converges in O(log n) rounds whatever
the cluster diameter; each round is a shuffle on the node id, and
``localCheckpoint`` truncates lineage between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table


@query(
    "dedup_clusters",
    # The pair graph is deterministic both sides (string shingles), so the
    # iterative Spark connected components can be checked against a DuckDB
    # RECURSIVE CTE computing min-reachable-label transitive closure.
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS shingles
      FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.05
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc_id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst
    )
    SELECT cluster_id, count(*) AS n_members, min(doc_id) AS canonical_doc_id
    FROM (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id)
    GROUP BY cluster_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster summary over n-gram-Jaccard candidate pairs (doc_id < 200,
    jaccard >= 0.05): one row per cluster with its canonical (minimum)
    doc and member count. Star-contraction connected components on the
    Spark side; the oracle reaches the same fixpoint as a transitive
    closure.
    Planted-duplicate correctness in tests/test_clusters.py."""
    from .dedup import dedup_ngram_jaccard
    from .dedup2 import cc_two_phase

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = cc_two_phase(pairs)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


# The "which copy survives?" policy: production dedup keeps the
# HIGHEST-QUALITY member of each near-dup cluster, not the lowest id.
# Reuses the dedup_clusters pair graph + the text_quality_score formula.
_KB_RECURSIVE_MEMBERS = """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS shingles
      FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.05
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc_id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst
    ),
    members AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id)
"""


@query(
    "dedup_keep_best",
    oracle=_KB_RECURSIVE_MEMBERS
    + """
    , q AS (
      SELECT doc_id,
             round(least(1.0, len(string_split(text, ' ')) / 100.0)
                   * (1 - round(len(list_filter(string_split(text, ' '),
                                t -> t IN ('the', 'a', 'and', 'of', 'to', 'in'))) * 1.0
                        / len(string_split(text, ' ')), 4)), 4) AS quality
      FROM documents WHERE doc_id < 200),
    j AS (
      SELECT m.cluster_id, m.doc_id, q.quality,
             row_number() OVER (PARTITION BY m.cluster_id
                                ORDER BY q.quality DESC, m.doc_id) AS rn
      FROM members m JOIN q ON q.doc_id = m.doc_id)
    SELECT cluster_id,
           count(*) AS n_members,
           CAST(sum(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT)
             AS best_doc_id,
           round(max(quality), 4) AS best_quality
    FROM j GROUP BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup policy: for each near-dup cluster, elect the
    highest-quality member (text_quality_score formula; ties break to the
    lowest doc_id) — what a production pass keeps, instead of the
    arbitrary minimum id.

    Scale: the election is the hash-agg argmax ``max(struct(quality,
    -doc_id))`` — map-side combinable, no per-cluster window sort (the
    oracle's row_number formulation is the same answer, stated
    recursively-checkable). Quality joins the label table on doc_id;
    clusters never materialize their member lists."""
    from .dedup import dedup_ngram_jaccard
    from .dedup2 import cc_two_phase
    from .text import text_quality_score

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = cc_two_phase(pairs)
    quality = text_quality_score(spark, sf_dir).select(
        "doc_id", F.col("quality_score").alias("quality")
    )
    j = labels.join(quality, "doc_id")
    best = F.max(
        F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid"))
    )
    return j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        (-best.getField("nid")).alias("best_doc_id"),
        F.round(best.getField("q"), 4).alias("best_quality"),
    )


@query(
    "mm_quantize_embeddings",
    oracle="""
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST((SELECT sum(CAST(floor(x * scale) AS BIGINT))
                 FROM unnest(v) AS t(x)) AS BIGINT) AS q_checksum
    FROM (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             127.0 / greatest((SELECT max(abs(x)) FROM unnest(CAST(embedding AS DOUBLE[])) AS t(x)), 1e-12) AS scale
      FROM embeddings)
    """,
)
def mm_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (the multimodal /
    vector-store compression step): per-vector symmetric scale
    127/max|x|, checksum of quantized values as the oracle-comparable
    digest (arrays themselves don't hash portably). floor() not round()
    — round's half-up boundary is engine-ambiguous. All JVM-side."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.greatest(amax, F.lit(1e-12))
    qsum = F.aggregate(
        F.transform(v, lambda x: F.floor(x * scale).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        qsum.alias("q_checksum"),
    )


PR_ITERS = 5
PR_DAMP = 0.85

_PAIR_SQL = """
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS shingles
      FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.05
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    )"""


def _pagerank_oracle() -> str:
    d, n_it = PR_DAMP, PR_ITERS
    cte = [
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for k in range(1, n_it + 1):
        cte.append(
            f"pr{k} AS (SELECT e.dst AS node,"
            f" (1 - {d}) / (SELECT n FROM nn)"
            f" + {d} * sum(p.rank / g.outdeg) AS rank"
            f" FROM edges e JOIN pr{k-1} p ON p.node = e.src"
            f" JOIN deg g ON g.src = e.src GROUP BY e.dst)"
        )
    return (
        "WITH " + _PAIR_SQL.lstrip() + ",\n    " + ",\n    ".join(cte) + f"""
    SELECT node AS doc_id, round(rank, 6) AS pagerank
    FROM pr{n_it}
    """
    )


@query("graph_pagerank_dup_clusters", oracle=_pagerank_oracle())
def graph_pagerank_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (5 rounds, d=0.85) over the near-dup
    pair graph — ranks each document's centrality inside its duplicate
    cluster (the canonical-pick signal a curation pipeline uses beyond
    plain min-id). Deterministic both sides: the oracle unrolls the same
    5 iterations as chained CTEs; PageRank's contraction keeps float
    divergence below the rounding.

    Scale: each iteration is one join + one aggregate, both keyed on the
    node id — the same partitioning reused round over round; lineage is
    truncated per round via localCheckpoint, as in ``cc_two_phase``."""
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # localCheckpoint, not persist (r13): the unrolled iterations
    # otherwise re-embed the expensive pair-graph derivation once per
    # round in the logical plan; the node-sized rank table is also
    # truncated per round so plan size stays constant (same pattern as
    # dedup2.cc_two_phase).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        # no near-dup pairs at this SF — an empty graph is a valid input
        # (the oracle's recursive CTE also yields zero rows), not a crash
        return spark.createDataFrame([], "doc_id long, pagerank double")
    pr = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr, pr.node == edges.src)
            .join(deg, "src")
            .select(F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        pr = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(1 - PR_DAMP) / n + F.lit(PR_DAMP) * F.sum("c")).alias("rank")
        ).localCheckpoint()
    return pr.select(F.col("node").alias("doc_id"), F.round("rank", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# K-means over the embedding table: the semantic-clustering step of a
# curation pipeline (cluster-then-sample, semantic dedup, topic balance).
# Fixed seeds + fixed iteration count make it fully deterministic, so the
# oracle unrolls the identical two Lloyd iterations in SQL.
# --------------------------------------------------------------------------
_KM_K = 8
_KM_DIM = 64


def _km_assign(points: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmax-cosine assignment: broadcast the k centroids, score every
    point, pick the best per point as max(struct(sim, -cid, ...)) — a
    HASH aggregate, not a row_number window.  The window formulation
    shuffles and sorts all k*N scored rows; the struct-max collapses to
    one row per point in the map-side partial (crossJoin-with-broadcast
    preserves the point partitioning), so the exchange carries N rows
    whatever k is.  Tie-break is identical (max sim, then min cid)."""
    from ..functions.vector import dot, norm

    c = F.broadcast(cents.withColumn("cn", norm(F.col("cv"))))
    p = points.withColumn("pn", norm(F.col("embedding")))
    best = (
        p.crossJoin(c)
        .withColumn(
            "sim", dot(F.col("embedding"), F.col("cv")) / (F.col("pn") * F.col("cn"))
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim").alias("sim"),
                    (-F.col("cid")).alias("neg_cid"),
                    F.col("cid").alias("cid"),
                    F.col("embedding").alias("embedding"),
                )
            ).alias("b")
        )
    )
    return best.select(
        "vec_id", F.col("b.embedding").alias("embedding"), F.col("b.cid").alias("cid"),
        F.col("b.sim").alias("sim")
    )


def _km_update(asg: DataFrame) -> DataFrame:
    """Element-wise centroid mean. Per-dim sums accumulate in exact
    DECIMAL (double sums are association-order-sensitive); the division
    happens after casting the exact sum to double, so both engines run
    the identical double op."""
    per_dim = (
        asg.select("cid", F.posexplode("embedding").alias("i", "v"))
        .groupBy("cid", "i")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


@query(
    "cluster_kmeans_embeddings",
    oracle=f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < {_KM_K}),
    s1 AS (SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
           FROM emb e CROSS JOIN c0 c),
    a1 AS (SELECT vec_id, v, cid FROM s1 WHERE rn = 1),
    pd AS (SELECT cid, i,
                  CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
           FROM a1, unnest(generate_series(1, {_KM_DIM})) AS t(i)
           GROUP BY cid, i),
    c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM pd GROUP BY cid),
    s2 AS (SELECT e.vec_id, c.cid,
                  list_cosine_similarity(e.v, c.cv) AS sim,
                  row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
           FROM emb e CROSS JOIN c1 c)
    SELECT cid, count(*) AS n_members, round(avg(sim), 4) AS cohesion
    FROM s2 WHERE rn = 1
    GROUP BY cid
    """,
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k={k}, 2 fixed Lloyd iterations, cosine metric) over the
    embedding column — the clustering primitive behind semantic dedup and
    cluster-balanced sampling in training-data curation.  Deterministic
    end-to-end: centroids seed from the {k} smallest vec_ids, assignment
    ties break on centroid id, and the centroid means accumulate in
    DECIMAL, so the SQL oracle replays the identical two iterations.

    Reference parity: the reference's iterative workloads run as repeated
    MapReduce rounds over the same keys (SURVEY.md §2.A); here each round
    is one broadcast-scored assignment (k rows broadcast — the points
    table never shuffles for scoring) plus one posexplode + two-level
    aggregation for the means.  Scale: per iteration the only wide
    exchange is groupBy(cid, dim) at k*dim groups — constant-size output
    regardless of input rows; map-side partial aggregation does the heavy
    lifting, and the k*dim -> k array reassembly is trivially small.  A
    1000-executor run iterates without any driver-side collect of points.
    """.format(k=_KM_K)
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding"
    )
    cent = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    asg = _km_assign(emb, cent)
    cent = _km_update(asg)
    final = _km_assign(emb, cent)
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("sim"), 4).alias("cohesion"),
    )


# --------------------------------------------------------------------------
# Triangle counting — the classic MapReduce-era graph analytic (the
# node-iterator++ / edge-orientation algorithm), over a derived user
# co-activity graph.  Complements connected-components and PageRank with
# the third standard graph primitive (clustering structure).
# --------------------------------------------------------------------------
_TRI_MULT = 2.0  # edge threshold: pair weight >= 2x the mean pair weight
# Degree cap: each node KEEPS only its _TRI_DEG_CAP strongest edges
# (rank by weight desc, neighbor id asc); an edge survives if EITHER
# endpoint keeps it (union-kNN sparsification).  This bounds the graph's
# max effective degree, which bounds the triangle join's wedge count by
# N * K^2 at ANY scale — without it, the synthetic sf1 decade (10x users
# in the same time window => quadratically denser co-activity slots)
# produced a 3.97M-edge, avg-degree-529 graph whose 2e9-wedge triangle
# join blew up the local executor.  At sf0.01 the cap is a no-op (max
# degree 17); from sf0.1 up it genuinely sparsifies.
_TRI_DEG_CAP = 32

# Deterministic analysis cohort for the co-activity graph family: only
# users below this id enter the graph.  A NO-OP at every driver-checked
# SF (max user_id is 1499 at sf0.1, lower below), so oracle rows are
# unchanged where the driver verifies; at the synthetic sf1 decade
# (15000 users over the SAME time window => quadratically denser slots)
# it bounds the pair derivation to a 2x-sf0.1 user cohort, which keeps
# the single-node DuckDB ORACLE leg inside the machine — the round-3/5
# mirrors had to --skip these queries because the oracle's ~79M-pair
# ranking window spilled past temp disk while the Spark plan completed
# fine.  The bound is part of the QUERY definition (both legs), so the
# comparison stays exact; the Spark plan itself never needed it (the
# _TRI_DEG_CAP union-kNN sparsification is the engine-side scale
# control).
_GRAPH_COHORT = 3000


def coactivity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared co-activity edge derivation (triangle census, k-hop BFS,
    and LPA in graphs2.py all run on THIS graph): users are linked when
    they co-occur in the same (hour, event_type) slot at >= _TRI_MULT x
    the mean pair rate, then sparsified to each node's _TRI_DEG_CAP
    strongest edges (kept if either endpoint ranks it).  Undirected,
    u < v, one row per edge.  Input is the ``user_id < _GRAPH_COHORT``
    analysis cohort (see that constant: a no-op at driver SFs, a
    deterministic subgraph at the sf1 stretch)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < _GRAPH_COHORT
    )
    slots = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "event_type",
    ).distinct()
    a = slots.select(F.col("user_id").alias("u"), "h", "event_type")
    b = slots.select(F.col("user_id").alias("v"), "h", "event_type")
    pairs = (
        a.join(b, ["h", "event_type"])
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tot = pairs.agg(F.sum("w").alias("sw"), F.count(F.lit(1)).alias("c"))
    thresholded = (
        pairs.crossJoin(F.broadcast(tot))
        .filter(F.col("w") >= _TRI_MULT * F.col("sw") / F.col("c"))
        .select("u", "v", "w")
    )
    directed = thresholded.select("u", "v", "w").unionAll(
        thresholded.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "w"
        )
    )
    wd = W.partitionBy("u").orderBy(F.col("w").desc(), F.col("v"))
    kept = (
        directed.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= _TRI_DEG_CAP)
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    return kept


@query(
    "graph_triangle_census",
    oracle=f"""
    WITH slots AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h,
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
    deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
            GROUP BY 1),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n
            FROM e e1 JOIN e e2 ON e1.v = e2.u
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    wedge AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS nw FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT n FROM tri) AS n_triangles,
           round(CASE WHEN (SELECT nw FROM wedge) = 0 THEN 0.0
                      ELSE 3.0 * (SELECT n FROM tri) / (SELECT nw FROM wedge)
                 END, 4) AS clustering_coeff
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the user co-activity graph: users are linked
    when they co-occur in the same (hour, event_type) slot at least
    2x the mean pair rate (a data-relative threshold so the graph has
    comparable density at any SF; the cutoff is a ratio of exact integer
    sums — deterministic cross-engine).  Output: node/edge/triangle
    counts + global clustering coefficient (3T / wedges).

    Scale: the pair generation is bucketed by (hour, event_type) — an
    inverted-index self-join like the n-gram dedup, never user x user;
    triangles are enumerated once each via the id-oriented edge list
    (u < v) with a two-hop join.  At real scale the orientation would be
    by degree (the standard worst-case mitigation); the join structure is
    identical.  Every aggregate is an exact integer until the final
    rounded ratio.  Reference parity: triangle counting is the canonical
    'beyond wordcount' MapReduce workload the reference's engine family
    was built for."""
    e = coactivity_edges(spark, sf_dir)
    e = e.localCheckpoint()
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = e.select(F.col("u").alias("a1"), F.col("v").alias("b1"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b1") == F.col("b2"))
        .join(e3, (F.col("a3") == F.col("a1")) & (F.col("c3") == F.col("c2")))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("nw")
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (
        nodes.crossJoin(n_edges)
        .crossJoin(tri.withColumnRenamed("n", "n_triangles"))
        .crossJoin(wedges)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                F.when(F.col("nw") == 0, F.lit(0.0)).otherwise(
                    3.0 * F.col("n_triangles") / F.col("nw")
                ),
                4,
            ).alias("clustering_coeff"),
        )
    )
    return out


# --------------------------------------------------------------------------
# k-hop reachability (multi-source BFS, unrolled) — the fourth graph
# primitive: neighborhood growth from seed nodes over the same
# co-activity graph as the triangle census.
# --------------------------------------------------------------------------
_KHOP_SEEDS = 5
_KHOP_K = 3


@query(
    "graph_khop_reachability",
    oracle=f"""
    WITH slots AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h,
                                   event_type FROM events WHERE user_id < {_GRAPH_COHORT}),
    pairs AS MATERIALIZED (SELECT a.user_id AS u, b.user_id AS v,
                     CAST(count(*) AS BIGINT) AS w
              FROM slots a JOIN slots b
                ON a.h = b.h AND a.event_type = b.event_type
               AND a.user_id < b.user_id
              GROUP BY 1, 2),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS sw, CAST(count(*) AS BIGINT) AS c
          FROM pairs),
    e0 AS (SELECT u, v, w FROM pairs, t WHERE w >= {_TRI_MULT} * sw / c),
    dir AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
    e AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u
              ORDER BY w DESC, v) AS rn FROM dir)
          WHERE rn <= {_TRI_DEG_CAP}),
    sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    seeds AS (SELECT DISTINCT u AS s FROM sym ORDER BY s LIMIT {_KHOP_SEEDS}),
    r0 AS MATERIALIZED (SELECT s, s AS node, 0 AS d FROM seeds),
    r1 AS MATERIALIZED (SELECT s, node, min(d) AS d FROM (
             SELECT * FROM r0
             UNION ALL
             SELECT r0.s, sym.v, 1 FROM r0 JOIN sym ON sym.u = r0.node)
           GROUP BY 1, 2),
    r2 AS MATERIALIZED (SELECT s, node, min(d) AS d FROM (
             SELECT * FROM r1
             UNION ALL
             SELECT r1.s, sym.v, r1.d + 1 FROM r1 JOIN sym ON sym.u = r1.node)
           GROUP BY 1, 2),
    r3 AS MATERIALIZED (SELECT s, node, min(d) AS d FROM (
             SELECT * FROM r2
             UNION ALL
             SELECT r2.s, sym.v, r2.d + 1 FROM r2 JOIN sym ON sym.u = r2.node)
           GROUP BY 1, 2)
    SELECT s AS seed,
           CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop1,
           CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop2,
           CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop3,
           CAST(count(*) - 1 AS BIGINT) AS n_reached
    FROM r3 GROUP BY s
    """,
)
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop reachability (BFS, 3 unrolled frontier
    expansions with min-distance dedup) from the 5 lowest-id nodes of
    the co-activity graph — the neighborhood-growth primitive behind
    "friends of friends", influence radius, and blast-radius queries.

    Scale: each hop is one edge join keyed on the frontier node plus a
    min-distance groupBy — the Pregel superstep expressed relationally;
    state between hops is (seed, node, dist), never adjacency
    materialization beyond the (already threshold-pruned) edge list.
    All counts exact integers. Same unrolled-iteration pattern as
    k-means/PageRank (fixed k, no driver loop state)."""
    # localCheckpoint, not persist (r13): truncate the edge derivation
    # out of every hop's plan, and the (seed, node, dist) frontier per
    # hop, so the unrolled supersteps stay constant-size plans.
    e = coactivity_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    seeds = (
        sym.select(F.col("u").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(_KHOP_SEEDS)
    )
    r = seeds.select("s", F.col("s").alias("node"), F.lit(0).alias("d"))
    for _ in range(_KHOP_K):
        nxt = r.join(sym, r.node == sym.u).select(
            "s", F.col("v").alias("node"), (F.col("d") + 1).alias("d")
        )
        r = (
            r.unionByName(nxt)
            .groupBy("s", "node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return r.groupBy(F.col("s").alias("seed")).agg(
        F.sum((F.col("d") == 1).cast("long")).cast("bigint").alias("n_hop1"),
        F.sum((F.col("d") == 2).cast("long")).cast("bigint").alias("n_hop2"),
        F.sum((F.col("d") == 3).cast("long")).cast("bigint").alias("n_hop3"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
    )


# --------------------------------------------------------------------------
# Simplified silhouette — the clustering-quality score that closes the
# loop on k-means: for each point, a = distance to OWN centroid, b =
# distance to nearest OTHER centroid, s = (b - a) / max(a, b).  The
# "simplified" (centroid-based) variant is the standard at-scale
# substitute for the O(N^2) pairwise silhouette (public; used by e.g.
# scikit-learn's docs as the fast proxy).
# --------------------------------------------------------------------------


@query(
    "cluster_silhouette_simplified",
    oracle=f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < {_KM_K}),
    scored AS (
      SELECT e.vec_id, c.cid,
             list_cosine_similarity(e.v, c.cv) AS sim
      FROM emb e CROSS JOIN c0 c),
    ranked AS (
      SELECT vec_id, cid, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid) AS rn
      FROM scored),
    ab AS (
      SELECT o.vec_id, o.cid,
             1.0 - o.sim AS a,
             1.0 - n.sim AS b
      FROM (SELECT * FROM ranked WHERE rn = 1) o
      JOIN (SELECT * FROM ranked WHERE rn = 2) n ON n.vec_id = o.vec_id),
    s AS (
      SELECT cid,
             CASE WHEN greatest(a, b) <= 0 THEN 0
                  ELSE CAST(floor((b - a) / greatest(a, b) * 1000000)
                            AS BIGINT) END
               AS s_micro
      FROM ab)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(s_micro) AS BIGINT) / (count(*) * 1000000.0), 6)
             AS mean_silhouette
    FROM s GROUP BY cid
    """,
)
def cluster_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster, cosine
    distance, seed centroids = the {k} smallest vec_ids (matching the
    SemDeDup assignment): a = 1 - cos(point, own centroid), b = 1 -
    cos(point, runner-up centroid), s = (b-a)/max(a,b); per-cluster mean
    accumulates floor(s * 1e6) integers so the average is
    association-order-free.

    Scale: one broadcast-k scored pass; own/runner-up selection is two
    struct-extremes over k scored rows per point (here a bounded window
    in the oracle, a hash-agg of max and second-max structs in the
    plan); the exact pairwise silhouette would be O(N^2) — this is the
    standard linear-time proxy.  Clustering quality of a 100 TB
    embedding table costs one pass over the points."""
    from ..functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "embedding"
    )
    cents = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        cosine(F.col("embedding"), F.col("cv")).alias("sim"),
    )
    # best and runner-up in ONE hash aggregate: max(struct) for the own
    # centroid, then max over the remaining via a two-field trick —
    # collect the top-2 as max(struct) and max(struct excluding argmax)
    # needs the argmax first, so compute both extremes from a single
    # groupBy via sorted top-2 of a small k-array (k rows per vec).
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("sim").alias("sim"), (-F.col("cid")).alias("ncid"),
                F.col("cid").alias("cid"),
            )
        ).alias("b1")
    )
    runner = (
        scored.join(
            best.select(
                "vec_id", F.col("b1.cid").alias("best_cid")
            ),
            "vec_id",
        )
        .filter(F.col("cid") != F.col("best_cid"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim").alias("sim"), (-F.col("cid")).alias("ncid"),
                    F.col("cid").alias("cid"),
                )
            ).alias("b2")
        )
    )
    ab = best.join(runner, "vec_id").select(
        "vec_id",
        F.col("b1.cid").alias("cid"),
        (1.0 - F.col("b1.sim")).alias("a"),
        (1.0 - F.col("b2.sim")).alias("b"),
    )
    # s = 0 when max(a, b) = 0 (point at cosine 1.0 to both centroids) —
    # the scikit-learn convention; an unguarded 0/0 would NaN-poison the
    # cluster mean in both engines.
    s_micro = (
        F.when(F.greatest(F.col("a"), F.col("b")) <= 0, F.lit(0))
        .otherwise(
            F.floor(
                (F.col("b") - F.col("a"))
                / F.greatest(F.col("a"), F.col("b"))
                * 1_000_000
            )
        )
        .cast("long")
    )
    return (
        ab.select("cid", s_micro.alias("sm"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("sm") / (F.count(F.lit(1)) * 1_000_000.0), 6).alias(
                "mean_silhouette"
            ),
        )
    )
