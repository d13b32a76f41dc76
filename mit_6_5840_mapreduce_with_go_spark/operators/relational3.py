"""Classic TPC-H-shaped queries (adapted to the driver testdata schema):
q6 (pure filter-sum — the predicate-pushdown showcase), q4 (EXISTS → semi
join), q14 (conditional aggregation over a fact-dim join), q18 (HAVING on
a grouped fact joined back to dims), q19 (disjunctive OR predicates).

Reference parity note: the reference engine has no SQL surface
(SURVEY.md §0; its queries are map/reduce programs — src/mrapps/*.go);
these cover the relational breadth a Spark user expects from SURVEY.md
§2.D, each with a DuckDB oracle.

Scale notes per query are in the docstrings — q6/q19 are scan-dominated
(filters reach parquet), q4 is a broadcast-able semi join keyed on
orderkey, q14 broadcasts the part dim, q18's HAVING prunes before the
dim join so only qualifying orders shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q6_forecast_revenue",
    # revenue in exact cent*percent integers (q1/q5 recipe) — a single
    # global group, so the raw-double sum is the registry's most
    # association-order-exposed aggregate
    oracle="""
    SELECT count(*) AS n_lines,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
                 / 10000.0, 2) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: pure filter + global sum, no join, no groupBy —
    every predicate must reach the parquet scan (PushedFilters) and the
    agg is a two-phase partial/final with no row shuffle. At 100 TB this
    is bandwidth-bound; the only plan mistake possible is losing the
    pushdown, which tests/test_plans.py pins."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.04, 0.08))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(38,0)")
                * F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)")
            )
            .cast("double")
            / 10000.0,
            2,
        ).alias("revenue_delta"),
    )


@query(
    "q4_late_shipment_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: EXISTS decorrelates to a LEFT SEMI join on
    orderkey (each order counted once however many lineitems qualify).
    Scale: the semi join shuffles both sides on l_orderkey/o_orderkey —
    the natural co-location key; with bucketed tables it is shuffle-free
    (tests/test_bucketing.py demonstrates the layout)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


@query(
    "q14_promo_revenue_pct",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: conditional aggregation over a fact-dim join.
    The part dim broadcasts (no fact shuffle); the month filter reaches
    the lineitem scan, so the join input is already pruned."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum_qty, 2) AS sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: aggregate the fact FIRST (HAVING prunes to the
    few large orders), then join the survivors to orders/customer — the
    survivors are broadcast-sized, so the dims never shuffle. The wrong
    plan (join first, aggregate after) would shuffle the whole fact
    twice."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("qty", 2).alias("sum_qty"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT count(*) AS n_lines,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                      AS DOUBLE) / 10000.0, 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: disjunctive (OR) predicates spanning both join
    sides. Catalyst extracts the common single-side conjuncts (brand/size
    on part, quantity on lineitem) below the join where possible; the
    part side broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return joined.filter(cond).agg(
        F.count(F.lit(1)).alias("n_lines"),
        # integer cent*percent sums (q1/q5 recipe)
        F.round(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(38,0)")
                * (100 - F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)"))
            )
            .cast("double")
            / 10000.0,
            2,
        ).alias("revenue"),
    )


@query(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n_rows,
           count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           round(min(o_orderkey), 4) AS min_val,
           round(max(o_orderkey), 4) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
           round(min(o_custkey), 4), round(max(o_custkey), 4) FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT o_totalprice),
           round(min(o_totalprice), 4), round(max(o_totalprice), 4) FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiler (the stats a CBO / data-quality
    gate needs): per-column row/non-null/distinct counts + min/max, all
    numeric columns in ONE scan — the per-column aggregates compute
    side-by-side in a single partial/final agg pass, not one scan per
    column (the difference between 1 and N reads of a 100 TB table)."""
    orders = _t(spark, sf_dir, "orders")
    aggs = []
    for c in ["o_orderkey", "o_custkey", "o_totalprice"]:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.round(F.min(c).cast("double"), 4).alias(f"{c}__mn"),
            F.round(F.max(c).cast("double"), 4).alias(f"{c}__mx"),
        ]
    wide = orders.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_val"),
                F.col(f"{c}__mx").alias("max_val"),
            )
            for c in ["o_orderkey", "o_custkey", "o_totalprice"]
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


@query(
    "scd2_user_value_history",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'), '9999-12-31')
             AS valid_to,
           round(value, 4) AS value,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE user_id < 100
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval construction: turn a change log into
    (valid_from, valid_to, is_current] dimension history rows with one
    lead() window — each user's change stream closes the previous
    interval. One shuffle on the dimension key; at 100 TB this is the
    standard daily dimension-snapshot builder (merge-appended via
    sources/merge.py partition-scoped upsert)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.round("value", 4).alias("value"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "udtf_doc_sentences",
    oracle="""
    SELECT doc_id, CAST(idx AS INT) AS sent_idx, parts[idx] AS sentence
    FROM (SELECT doc_id, string_split(text, '. ') AS parts
          FROM documents WHERE doc_id < 30),
         unnest(generate_series(1, len(parts))) AS t(idx)
    WHERE parts[idx] <> ''
    """,
)
def udtf_doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (PySpark 4 table function API) splitting documents
    into indexed sentences via a LATERAL join — the modernized
    "pluggable Map" surface (reference: map emits multiple records per
    input — src/mrapps/wc.go:22-34). CAVEAT: a Python UDTF is the slow
    path (per-partition Python workers); the native equivalent is
    posexplode(split(...)) — posexplode_doc_tokens. This entry exists to
    prove the extension surface, not as the recommended plan."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            for i, s in enumerate(text.split(". ")):
                if s != "":
                    yield doc_id, i + 1, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 30
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence "
        "FROM udtf_docs d, LATERAL split_sentences(d.doc_id, d.text) s"
    )


# --------------------------------------------------------------------------
# KMV (K-minimum-values) distinct sketch — the third sketch family, and
# unlike HLL it is FULLY deterministic cross-engine: the estimate itself
# is hash-compared against the oracle, not just an error bound.
# --------------------------------------------------------------------------
_KMV_K = 32


@query(
    "sketch_kmv_distinct_users",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             list_reduce(
               list_prepend(CAST(2166136261 AS BIGINT),
                            list_transform(string_split(CAST(user_id AS VARCHAR), ''),
                                           c -> CAST(ord(c) AS BIGINT))),
               (h, b) -> (xor(h, b) * 16777619) % 4294967296) AS hv
      FROM events),
    r AS (SELECT event_type, hv,
                 row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS cnt
          FROM h)
    SELECT event_type,
           CAST(max(cnt) AS BIGINT) AS n_distinct_hashes,
           round(CASE WHEN max(cnt) >= {_KMV_K}
                      THEN ({_KMV_K} - 1) * 4294967296.0
                           / max(CASE WHEN rn = {_KMV_K} THEN hv END)
                      ELSE max(cnt) * 1.0 END, 4) AS kmv_estimate
    FROM r
    WHERE rn <= {_KMV_K}
    GROUP BY event_type
    """,
)
def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event type: keep the K smallest
    FNV-32a hash values of the key; estimate = (K-1) * 2^32 / h_(K)
    (falls back to the exact distinct-hash count below K).

    Deterministic cross-engine (FNV char fold computes identically in
    DuckDB — same construction as the kv_shard_distribution oracle), so
    the ESTIMATE is oracle-checked, not just bounded.

    Scale: after the distinct, the rank<=K filter compiles to
    WindowGroupLimit — each partition keeps only its K smallest hashes
    BEFORE the exchange (the distributed KMV merge), so the shuffle
    carries K rows per (partition, type) however many distinct keys
    exist.  This is the mergeable-sketch property that lets KMV run as a
    streaming/partial aggregate at 100 TB."""
    from ..functions.hashing import fnv32a_col

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type", F.col("user_id").cast("string").alias("key")
    ).distinct().select("event_type", fnv32a_col(F.col("key")).alias("hv")).distinct()
    # The total count is a separate tiny aggregate (NOT a count() window
    # over the same partition — that would block the rank<=K WindowGroupLimit
    # pushdown and force every distinct hash through the window unfiltered).
    counts = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("event_type").orderBy("hv")
    r = h.withColumn("rn", F.row_number().over(w))
    agg = (
        r.filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("hk"))
        .join(F.broadcast(counts.withColumnRenamed("cnt", "n_distinct_hashes")),
              "event_type")
    )
    est = F.when(
        F.col("n_distinct_hashes") >= _KMV_K,
        (_KMV_K - 1) * F.lit(4294967296.0) / F.col("hk"),
    ).otherwise(F.col("n_distinct_hashes") * 1.0)
    return agg.select(
        "event_type",
        "n_distinct_hashes",
        F.round(est, 4).alias("kmv_estimate"),
    )


# --------------------------------------------------------------------------
# Equal-width histogram — the value-distribution primitive (profiling /
# monitoring dashboards).  Bin edges derive from the global min/max, so
# the whole computation is two passes: a tiny (type, min, max) aggregate
# broadcast back over the scan, then a map-side-combinable bucket count.
# --------------------------------------------------------------------------
_HIST_BINS = 10


@query(
    "events_value_histogram",
    oracle=f"""
    WITH mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                FROM events WHERE value IS NOT NULL GROUP BY 1),
    b AS (SELECT e.event_type,
                 CAST(least({_HIST_BINS - 1},
                            floor((e.value - mm.mn) * {_HIST_BINS}.0
                                  / (mm.mx - mm.mn))) AS BIGINT) AS bucket,
                 mm.mn, mm.mx
          FROM events e JOIN mm ON e.event_type = mm.event_type
          WHERE e.value IS NOT NULL AND mm.mx > mm.mn)
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           round(any_value(mn) + bucket * (any_value(mx) - any_value(mn))
                 / {_HIST_BINS}.0, 4) AS bucket_lo,
           round(any_value(mn) + (bucket + 1) * (any_value(mx) - any_value(mn))
                 / {_HIST_BINS}.0, 4) AS bucket_hi
    FROM b GROUP BY 1, 2
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equal-width histogram of the value column ({10} bins over
    the observed [min, max], top bin right-closed).

    Cross-engine determinism: the bucket expression is written with
    identical IEEE association in both engines ((v - mn) * 10.0 /
    (mx - mn), then floor) over identical doubles (min/max are exact
    selections), so boundary values bucket identically.

    Scale: pass 1 is a tiny per-type min/max aggregate (broadcast back);
    pass 2 is a map-side-combinable (type, bucket) count — the classic
    two-scan histogram, no sort, no per-row state."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mm = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    b = (
        ev.join(F.broadcast(mm), "event_type")
        .filter(F.col("mx") > F.col("mn"))
        .withColumn(
            "bucket",
            F.least(
                F.lit(_HIST_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    * float(_HIST_BINS)
                    / (F.col("mx") - F.col("mn"))
                ),
            ).cast("long"),
        )
    )
    width = (F.first("mx") - F.first("mn")) / float(_HIST_BINS)
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.first("mn") + F.col("bucket") * width, 4).alias("bucket_lo"),
        F.round(F.first("mn") + (F.col("bucket") + 1) * width, 4).alias("bucket_hi"),
    )


# --------------------------------------------------------------------------
# KMV set algebra: sketch-estimated source-overlap matrix vs exact
# --------------------------------------------------------------------------
_KMV_OV_K = 64  # union-sketch size per source pair


@query(
    "sketch_kmv_source_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, unnest(list_distinct(list_transform(
        range(len(string_split(text, ' ')) - 2),
        i -> string_split(text, ' ')[i+1] || ' ' ||
             string_split(text, ' ')[i+2] || ' ' ||
             string_split(text, ' ')[i+3]))) AS g
      FROM documents),
    h AS (
      SELECT DISTINCT source,
             list_reduce(
               list_prepend(CAST(2166136261 AS BIGINT),
                            list_transform(string_split(g, ''),
                                           c -> CAST(ord(c) AS BIGINT))),
               (hh, b) -> (xor(hh, b) * 16777619) % 4294967296) AS hv
      FROM sh),
    c AS (SELECT source, count(*) AS n FROM h GROUP BY 1),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b
      FROM c a JOIN c b ON a.source < b.source),
    u AS (
      SELECT sa, sb, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.sa, p.sb, h.hv, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN h ON h.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, h.hv, 0, 1
        FROM pairs p JOIN h ON h.source = p.sb)
      GROUP BY 1, 2, 3),
    r AS (
      SELECT sa, sb, in_a, in_b,
             row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
      FROM u),
    est AS (
      SELECT sa, sb,
             CAST(sum(in_a * in_b) AS BIGINT) AS k_both,
             count(*) AS k_used
      FROM r WHERE rn <= {_KMV_OV_K} GROUP BY 1, 2),
    ex AS (
      SELECT x.sa, x.sb, count(*) AS n_both FROM (
        SELECT p.sa, p.sb, h.hv FROM pairs p JOIN h ON h.source = p.sa) x
      JOIN h y ON y.source = x.sb AND y.hv = x.hv
      GROUP BY 1, 2),
    j AS (
      SELECT p.sa, p.sb, p.n_a, p.n_b, est.k_both, est.k_used,
             CAST(coalesce(ex.n_both, 0) AS BIGINT) AS nb,
             p.n_a + p.n_b - coalesce(ex.n_both, 0) AS n_union
      FROM pairs p
      JOIN est ON est.sa = p.sa AND est.sb = p.sb
      LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb)
    SELECT sa AS source_a, sb AS source_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           nb AS n_both,
           round(nb / n_union, 4) AS jaccard_exact,
           round(k_both / k_used, 4) AS kmv_jaccard,
           round(abs(nb * k_used - k_both * n_union) / (n_union * k_used), 4)
             AS abs_err
    FROM j
    """,
)
def sketch_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set ALGEBRA (not just cardinality): estimate the full
    source x source 3-gram-overlap Jaccard matrix from K-minimum-value
    sketches of each source's hashed shingle set — the K smallest union
    hashes per pair vote on co-membership — and report the exact answer
    plus absolute error alongside (the accuracy loop that sizes K before
    trusting the sketch at 100 TB, where the exact self-join is the cost
    you're trying to avoid).

    Deterministic cross-engine: sets are FNV-32a hash sets (same char
    fold as the KMV cardinality sketch above), so estimates AND exact
    values are oracle-checked, not just bounded.

    Scale: each source contributes its distinct hash set once; the pair
    union ranks only per-pair hashes (WindowGroupLimit keeps K per
    partition before the exchange); the exact side is a hash-keyed
    equi-self-join for the eval — at 100 TB you'd drop the exact legs
    and keep the K-sized sketches (mergeable, broadcastable)."""
    from ..functions.hashing import fnv32a_col

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select("source", F.split("text", " ").alias("toks"))
    sh = toks.select(
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, greatest(size(toks) - 3, 0)),"
                    " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
                )
            )
        ).alias("g"),
    ).distinct()
    # localCheckpoint (r13): h feeds five legs (counts, both union
    # sides, both exact-join sides); materialize the hashed sets once.
    h = sh.select("source", fnv32a_col(F.col("g")).alias("hv")).distinct()
    h = h.localCheckpoint()
    c = h.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = c.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    b = c.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    # Per-source K-minimum-value sketches feed the estimate leg (r13,
    # guide §2.3 "shuffle the sketch, not the set"): the K smallest
    # hashes of A ∪ B are a subset of (K smallest of A) ∪ (K smallest
    # of B) — any union-K-min element of A must be among A's own K
    # smallest — and for exactly those rows the membership flags
    # derived from the per-source sketches equal the full-set flags, so
    # est is BIT-IDENTICAL while the pair-replicated union shrinks from
    # every source's full hash set to K rows per source (measured
    # 11-20 s -> 2.3-3.8 s at sf0.1; at 100 TB this is the difference
    # between shuffling corpus-sized sets per pair and K-sized
    # mergeable sketches, exactly the deployment story the docstring
    # promises).  The EXACT legs below still use the full sets — they
    # are the eval.
    wsrc = W.partitionBy("source").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _KMV_OV_K)
        .select("source", "hv")
    )
    ua = pairs.join(
        sk.withColumnRenamed("source", "sa"), "sa"
    ).select("sa", "sb", "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    ub = pairs.join(
        sk.withColumnRenamed("source", "sb"), "sb"
    ).select("sa", "sb", "hv", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    u = (
        ua.unionByName(ub)
        .groupBy("sa", "sb", "hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = W.partitionBy("sa", "sb").orderBy("hv")
    r = u.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_OV_K
    )
    est = r.groupBy("sa", "sb").agg(
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("k_both"),
        F.count(F.lit(1)).alias("k_used"),
    )
    ha = h.select(F.col("source").alias("sa"), "hv")
    hb = h.select(F.col("source").alias("sb"), "hv")
    ex = (
        ha.join(hb, "hv")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    # Each ratio is one division of two exact integers, so both engines
    # round the same double: |nb/n_union - k_both/k_used| as a
    # difference of two rounded quotients differed in its last bits.
    nb = F.coalesce(F.col("n_both"), F.lit(0))
    n_union = F.col("n_a") + F.col("n_b") - nb
    k_both, k_used = F.col("k_both"), F.col("k_used")
    return (
        pairs.join(est, ["sa", "sb"])
        .join(ex, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            nb.cast("bigint").alias("n_both"),
            F.round(nb / n_union, 4).alias("jaccard_exact"),
            F.round(k_both / k_used, 4).alias("kmv_jaccard"),
            F.round(
                F.abs(nb * k_used - k_both * n_union) / (n_union * k_used), 4
            ).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# Bitmap index set operations (bitwise AND/popcount over packed words)
# --------------------------------------------------------------------------
_BM_DAYS = 31
_BM_BITS = 63  # bits per word: keep shifts off the sign bit (DuckDB
# raises on 1<<63; Spark wraps — 63-bit words sidestep the divergence)


@query(
    "bitmap_type_day_overlap",
    oracle=f"""
    WITH el AS (
      SELECT DISTINCT event_type,
             user_id * {_BM_DAYS}
               + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS id
      FROM events),
    words AS (
      SELECT event_type, id // {_BM_BITS} AS w,
             CAST(bit_or(1::BIGINT << CAST(id % {_BM_BITS} AS INT)) AS BIGINT)
               AS bm
      FROM el GROUP BY 1, 2),
    sizes AS (
      SELECT event_type, CAST(sum(bit_count(bm)) AS BIGINT) AS n
      FROM words GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(sum(bit_count(a.bm & b.bm)) AS BIGINT) AS n_common
      FROM words a JOIN words b
        ON b.w = a.w AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
           round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 4)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def bitmap_type_day_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra: each event type's (user, active-day)
    set packs into 63-bit words; intersections are bitwise AND +
    popcount over word-aligned joins — the bitmap-index technique that
    turns set operations into a few CPU instructions per 63 elements
    (the same trick behind roaring bitmaps and bitmap join indexes).
    Output: pairwise overlap and Jaccard of activity sets.

    Exactness: all integer bit arithmetic; words use 63 bits so no
    shift ever touches the sign bit (DuckDB raises on 1<<63, Spark
    wraps — the one bitwise divergence, designed around).

    Scale: the bitmap build is one map-side-combinable bit_or per
    (type, word); intersections join |universe|/63 words per pair
    instead of the raw element sets — compression AND speed, and the
    word table is the persistable index."""
    ev = load_table(spark, sf_dir, "events")
    el = ev.select(
        "event_type",
        (
            F.col("user_id") * _BM_DAYS
            + F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
        ).alias("id"),
    ).distinct()
    words = el.groupBy(
        "event_type", F.expr(f"id div {_BM_BITS}").alias("w")
    ).agg(
        F.expr(f"bit_or(shiftleft(1L, CAST(id % {_BM_BITS} AS INT)))").alias(
            "bm"
        )
    )
    sizes = words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(bm)")).cast("bigint").alias("n")
    )
    a = words.select(F.col("event_type").alias("type_a"), "w", F.col("bm").alias("ba"))
    b = words.select(F.col("event_type").alias("type_b"), "w", F.col("bm").alias("bb"))
    inter = (
        a.join(b, "w")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.expr("bit_count(ba & bb)")).cast("bigint").alias("n_common")
        )
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


@query(
    "udtf_doc_sentences_arrow",
    oracle="""
    SELECT doc_id, CAST(idx AS INT) AS sent_idx, parts[idx] AS sentence
    FROM (SELECT doc_id, string_split(text, '. ') AS parts
          FROM documents WHERE doc_id < 30),
         unnest(generate_series(1, len(parts))) AS t(idx)
    WHERE parts[idx] <> ''
    """,
)
def udtf_doc_sentences_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized twin of udtf_doc_sentences: the SAME Python table
    function, registered with ``useArrow=True`` so rows cross the
    Python boundary as Arrow batches (ArrowEvalPython in the plan)
    instead of pickled rows (BatchEvalPython) — the 10-100x cheaper
    extension path when per-row Python logic genuinely can't be
    expressed natively.  Identical output contract, same oracle; the
    pair documents the slow-vs-fast Python surface side by side (the
    truly native plan remains posexplode_doc_tokens)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string", useArrow=True)
    class SplitSentencesArrow:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            for i, s in enumerate(text.split(". ")):
                if s != "":
                    yield doc_id, i + 1, s

    spark.udtf.register("split_sentences_arrow", SplitSentencesArrow)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 30
    ).createOrReplaceTempView("udtf_docs_arrow")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence "
        "FROM udtf_docs_arrow d, LATERAL split_sentences_arrow(d.doc_id, d.text) s"
    )
