"""Scale-operations diagnostics: the queries an operator of a 1000-executor
cluster runs BEFORE picking a physical strategy — key-skew profiling (do I
need salting?), range-partition boundary planning (repartitionByRange
splits), and small-file compaction binning (how many output files should
this table rewrite into?).

No reference counterpart (the reference's partitioner is a fixed
``ihash(key) % nReduce`` — SURVEY.md §2.A3); these are the planning
primitives that decision requires at 100 TB, where a wrong partitioning
is the difference between a 10-minute and a 10-hour job.

Cross-engine determinism: every metric is integer count arithmetic or a
ratio of integers; double bin edges use ``floor(x / width)`` (identical
IEEE division + floor in Spark and DuckDB — never ``CAST(DOUBLE AS
BIGINT)``, which truncates in Spark but rounds in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..registry import query
from ..sources import load_table


@query(
    "stats_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT user_id, count(*) AS cnt
      FROM events GROUP BY user_id),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
             count(*) AS n_keys, max(cnt) AS max_cnt
      FROM counts),
    top AS (
      SELECT user_id, cnt FROM counts
      ORDER BY cnt DESC, user_id LIMIT 10)
    SELECT row_number() OVER (ORDER BY cnt DESC, user_id) AS rank,
           user_id, cnt,
           round(cnt * 100.0 / total_rows, 4) AS share_pct,
           round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, user_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) * 100.0 / total_rows,
                 4) AS cum_share_pct,
           round(cnt * 1.0 * n_keys / total_rows, 4) AS ratio_vs_mean,
           total_rows, n_keys,
           round(max_cnt * 1.0 * n_keys / total_rows, 4) AS skew_factor
    FROM top CROSS JOIN tot
    """,
)
def stats_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of ``events.user_id`` — the diagnostic run
    before choosing hash partitioning vs salting: top-10 keys with their
    row share, cumulative share, and ratio vs the mean key, plus the
    global skew factor (max key / mean key).

    Scale: one map-side-combinable groupBy on the key; the top-10 is
    ``orderBy().limit()`` (TakeOrdered — no global sort shuffle); rank
    and cumulative share are windowed over only those 10 rows; the
    1-row totals aggregate is broadcast. Nothing here touches raw rows
    twice."""
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = counts.localCheckpoint()
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = counts.orderBy(F.col("cnt").desc(), "user_id").limit(10)
    w = W.orderBy(F.col("cnt").desc(), "user_id")
    cum = F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint")
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w).alias("rank"),
            "user_id",
            "cnt",
            F.round(F.col("cnt") * 100.0 / F.col("total_rows"), 4).alias(
                "share_pct"
            ),
            F.round(cum * 100.0 / F.col("total_rows"), 4).alias("cum_share_pct"),
            F.round(
                F.col("cnt") * 1.0 * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("ratio_vs_mean"),
            "total_rows",
            "n_keys",
            F.round(
                F.col("max_cnt") * 1.0 * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("skew_factor"),
        )
    )


_RANGE_N_PARTS = 16
_RANGE_BIN_WIDTH = 100.0  # $100-wide pre-bins over o_totalprice


@query(
    "layout_range_partition_plan",
    oracle=f"""
    WITH hist AS (
      SELECT CAST(floor(o_totalprice / {_RANGE_BIN_WIDTH}) AS BIGINT) AS bin,
             count(*) AS cnt
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM hist),
    cum AS (
      SELECT bin, cnt,
             CAST(sum(cnt) OVER (ORDER BY bin
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt AS cum_before,
             total
      FROM hist CROSS JOIN tot)
    SELECT CAST((cum_before * {_RANGE_N_PARTS}) // total AS BIGINT)
             AS part_no,
           min(bin) AS lo_bin, max(bin) AS hi_bin,
           CAST(sum(cnt) AS BIGINT) AS rows_assigned,
           count(*) AS n_bins
    FROM cum
    GROUP BY 1
    """,
)
def layout_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition planner for ``orders.o_totalprice``:
    the boundary computation behind ``repartitionByRange`` /
    range-partitioned writes. Rows are first binned into fixed $100-wide
    histogram buckets (map-side-combinable groupBy over a BOUNDED
    domain), then whole bins are assigned to the ``k``-th of 16 target
    partitions by cumulative row count — the standard two-phase
    equi-depth histogram: sort the compressed histogram, never the rows.

    Scale: the only sort is over histogram bins (domain-bounded,
    thousands of rows at any data size) — waived GSORT; raw rows are
    touched once by a partial-aggregating scan. Bin edges use
    ``floor(x / width)``, identical in Spark/DuckDB (CAST would truncate
    vs round)."""
    hist = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / _RANGE_BIN_WIDTH)
            .cast("bigint")
            .alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = hist.agg(F.sum("cnt").cast("bigint").alias("total"))
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.crossJoin(F.broadcast(tot)).select(
        "bin",
        "cnt",
        (F.sum("cnt").over(w).cast("bigint") - F.col("cnt")).alias("cum_before"),
        "total",
    )
    part_no = F.expr(f"cum_before * {_RANGE_N_PARTS} div total").cast("bigint")
    return cum.groupBy(part_no.alias("part_no")).agg(
        F.min("bin").alias("lo_bin"),
        F.max("bin").alias("hi_bin"),
        F.sum("cnt").cast("bigint").alias("rows_assigned"),
        F.count(F.lit(1)).alias("n_bins"),
    )


_COMPACT_TARGET = 20_000  # chars per output file (stand-in for bytes)


@query(
    "maintenance_compaction_bins",
    oracle=f"""
    WITH f AS (
      SELECT source, doc_id, n_chars,
             CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_chars
               AS cum_before
      FROM documents)
    SELECT source,
           CAST(cum_before // {_COMPACT_TARGET} AS BIGINT) AS bin,
           count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM f
    GROUP BY 1, 2
    """,
)
def maintenance_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: treat each document as a file of
    ``n_chars`` bytes inside its ``source`` partition and bin-pack
    consecutive files (by doc_id) into ~20 KB output groups via a
    cumulative-size prefix sum — the OPTIMIZE/compaction planning pass
    of a table maintenance service.

    Scale: one partitioned window (sort within each source partition —
    file inventories are metadata, orders of magnitude smaller than
    data) and one map-side-combinable groupBy; integer-exact
    throughout. Contiguous-by-id packing preserves any existing cluster
    order, so compaction never destroys a sorted layout."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum_before = (F.sum("n_chars").over(w).cast("bigint") - F.col("n_chars"))
    f = docs.select(
        "source",
        "doc_id",
        "n_chars",
        cum_before.alias("cum_before"),
    )
    return f.groupBy(
        "source",
        F.expr(f"cum_before div {_COMPACT_TARGET}").cast("bigint").alias("bin"),
    ).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --------------------------------------------------------------------------
# Foreign-key candidate profiling (schema discovery)
# --------------------------------------------------------------------------
_FK_PAIRS = [
    # (child table, child col, parent table, parent col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    # deliberate negative control: event user ids are NOT customer keys
    ("events", "user_id", "customer", "c_custkey"),
]


def _fk_oracle(pairs=_FK_PAIRS) -> str:
    parts = []
    for ct, cc, pt, pc in pairs:
        parts.append(f"""
    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           (SELECT count(DISTINCT {cc}) FROM {ct}) AS child_distinct,
           (SELECT count(DISTINCT {pc}) FROM {pt}) AS parent_distinct,
           (SELECT count(DISTINCT {cc}) FROM {ct}
            WHERE {cc} IN (SELECT {pc} FROM {pt})) AS n_contained,
           round((SELECT count(DISTINCT {cc}) FROM {ct}
                  WHERE {cc} IN (SELECT {pc} FROM {pt}))
                 * 1.0 / (SELECT count(DISTINCT {cc}) FROM {ct}), 4)
             AS containment,
           (SELECT count(DISTINCT {cc}) FROM {ct}
            WHERE {cc} IN (SELECT {pc} FROM {pt}))
             = (SELECT count(DISTINCT {cc}) FROM {ct}) AS is_fk""")
    return " UNION ALL ".join(parts)


@query("profile_fk_candidates", oracle=_fk_oracle())
def profile_fk_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key discovery by set containment — the schema-profiling
    pass that tells an optimizer (or a human migrating a lake) which
    join edges are real: for each candidate (child, parent) column pair,
    the fraction of distinct child values present in the parent.
    Containment 1.0 = referential integrity holds; the events→customer
    row is a deliberate negative control.

    Scale (r14 restructure, guide §2/§2.6): the pre-r14 shape built each
    verdict row from its own distinct + semi-join + two broadcast
    crossJoins — 56 sequential driver-materialized jobs, each a full
    cluster barrier (the worst driver-orchestration anti-pattern in the
    repo; at 1000 executors the job-submission round trips dominate).
    Now ONE action: every pair's child and parent keys union into a
    tall (pair_id, key, is_child, is_parent) table (scans stay
    column-pruned per leg), a map-side-combinable groupBy(pair_id, key)
    collapses duplicates BEFORE the exchange and ORs the side flags,
    and a second |pairs|-row aggregate counts child/parent/contained
    distincts in one pass — semi-join semantics preserved exactly
    (contained = key seen on both sides).  Same single-DAG pipelining
    the guide's §2.6 thread-pool trick approximates from outside, with
    the scheduler free to overlap every leg."""
    return _fk_profile(lambda t: load_table(spark, sf_dir, t), _FK_PAIRS)


def _fk_profile(load, pairs) -> DataFrame:
    """``profile_fk_candidates`` over any (child table, child col, parent
    table, parent col) list, ``load(table)`` giving each table.  Same
    semantics as the IN-subquery oracle: NULL keys are never counted or
    contained; keys must be integral (they union as bigint), anything
    else is a ValueError naming the column rather than a silent cast to
    NULL."""
    legs = []
    for i, (ct, cc, pt, pc) in enumerate(pairs):
        for table, col, c, p in ((ct, cc, 1, 0), (pt, pc, 0, 1)):
            df = load(table)
            if not isinstance(df.schema[col].dataType, IntegralType):
                raise ValueError(
                    f"FK profile key {table}.{col} is "
                    f"{df.schema[col].dataType.simpleString()}, not integral"
                )
            legs.append(
                df.select(
                    F.lit(i).alias("pair_id"),
                    F.col(col).cast("long").alias("k"),
                    F.lit(c).alias("c"),
                    F.lit(p).alias("p"),
                )
            )
    allk = legs[0]
    for leg in legs[1:]:
        allk = allk.unionByName(leg)
    per_key = allk.where(F.col("k").isNotNull()).groupBy("pair_id", "k").agg(
        F.max("c").alias("in_c"), F.max("p").alias("in_p")
    )
    stats = per_key.groupBy("pair_id").agg(
        F.sum("in_c").cast("bigint").alias("child_distinct"),
        F.sum("in_p").cast("bigint").alias("parent_distinct"),
        F.sum(F.col("in_c") * F.col("in_p")).cast("bigint").alias("n_contained"),
    )
    child_lbl = F.lit(None).cast("string")
    parent_lbl = F.lit(None).cast("string")
    for i, (ct, cc, pt, pc) in enumerate(pairs):
        child_lbl = F.when(F.col("pair_id") == i, F.lit(f"{ct}.{cc}")).otherwise(
            child_lbl
        )
        parent_lbl = F.when(F.col("pair_id") == i, F.lit(f"{pt}.{pc}")).otherwise(
            parent_lbl
        )
    return stats.select(
        child_lbl.alias("child"),
        parent_lbl.alias("parent"),
        "child_distinct",
        "parent_distinct",
        "n_contained",
        F.round(F.col("n_contained") * 1.0 / F.col("child_distinct"), 4).alias(
            "containment"
        ),
        (F.col("n_contained") == F.col("child_distinct")).alias("is_fk"),
    )


# --------------------------------------------------------------------------
# Approximate query processing with error bars (BlinkDB-style eval)
# --------------------------------------------------------------------------
@query(
    "stats_approx_groupby_eval",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
               AS in_sample
      FROM events),
    ex AS (
      SELECT event_type, count(*) AS n_total,
             CAST(sum(c) AS DECIMAL(38,0)) AS s1
      FROM x GROUP BY event_type),
    sm AS (
      SELECT event_type, count(*) AS n_sample,
             CAST(sum(c) AS DECIMAL(38,0)) AS t1,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS t2
      FROM x WHERE in_sample GROUP BY event_type)
    SELECT ex.event_type,
           CAST(ex.n_total AS BIGINT) AS n_total,
           CAST(sm.n_sample AS BIGINT) AS n_sample,
           round(CAST(ex.s1 AS DOUBLE) / ex.n_total / 100.0, 4) AS exact_avg,
           round(CAST(sm.t1 AS DOUBLE) / sm.n_sample / 100.0, 4) AS sample_avg,
           round(1.96 * sqrt((CAST(sm.t2 AS DOUBLE) / sm.n_sample
                   - (CAST(sm.t1 AS DOUBLE) / sm.n_sample)
                     * (CAST(sm.t1 AS DOUBLE) / sm.n_sample))
                 / (sm.n_sample - 1)) / 100.0, 4) AS ci_halfwidth,
           abs(CAST(ex.s1 AS DOUBLE) / ex.n_total
               - CAST(sm.t1 AS DOUBLE) / sm.n_sample)
             <= 1.96 * sqrt((CAST(sm.t2 AS DOUBLE) / sm.n_sample
                  - (CAST(sm.t1 AS DOUBLE) / sm.n_sample)
                    * (CAST(sm.t1 AS DOUBLE) / sm.n_sample))
                / (sm.n_sample - 1)) AS within_ci
    FROM ex JOIN sm USING (event_type)
    """,
)
def stats_approx_groupby_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregation with error bars, evaluated against the
    exact answer: estimate each event type's mean value from a
    deterministic ~1/8 md5 hash sample and report the 95% CLT interval
    plus whether the exact mean fell inside it — the BlinkDB-style
    sample-and-bound loop that makes 100 TB interactive ("scan 12 TB,
    bound the error").

    Engine-exactness: sums/sums-of-squares accumulate in integer cents
    as DECIMAL(38,0) (order-insensitive, no int64 wrap), so means,
    variances, and the CI comparison are identical double arithmetic in
    both engines; the md5-prefix sample is bit-reproducible everywhere.

    Scale: one shared scan feeds both aggregates (sample membership is
    a scan-level predicate, exact side aggregates everything);
    both are map-side-combinable; output is |types| rows."""
    x = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
        .isin("0", "1")
        .alias("in_sample"),
    )
    ex = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
    )
    sm = (
        x.filter("in_sample")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("t1"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("t2"),
        )
    )
    mean_s = F.col("t1").cast("double") / F.col("n_sample")
    var_s = (
        F.col("t2").cast("double") / F.col("n_sample") - mean_s * mean_s
    ) / (F.col("n_sample") - 1)
    ci = 1.96 * F.sqrt(var_s)
    exact_mean = F.col("s1").cast("double") / F.col("n_total")
    return ex.join(sm, "event_type").select(
        "event_type",
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_sample").cast("bigint").alias("n_sample"),
        F.round(exact_mean / 100.0, 4).alias("exact_avg"),
        F.round(mean_s / 100.0, 4).alias("sample_avg"),
        F.round(ci / 100.0, 4).alias("ci_halfwidth"),
        (F.abs(exact_mean - mean_s) <= ci).alias("within_ci"),
    )


# --------------------------------------------------------------------------
# Cross-table reconciliation audit (data-quality gate)
# --------------------------------------------------------------------------
@query(
    "audit_order_lineitem_recon",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(28,6))) AS DOUBLE) AS charge
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderstatus, o.o_totalprice, li.charge,
             (li.l_orderkey IS NULL) AS childless,
             CASE WHEN li.l_orderkey IS NOT NULL
                  THEN abs(o.o_totalprice - li.charge) / o.o_totalprice
             END AS rel_err
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN childless THEN 1 ELSE 0 END) AS BIGINT)
             AS n_childless,
           CAST(sum(CASE WHEN rel_err < 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_5pct,
           CAST(sum(CASE WHEN rel_err >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_beyond_5pct,
           round(sum(CASE WHEN rel_err < 0.05 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS within_rate,
           round(CAST(sum(CAST(rel_err AS DECIMAL(28,6))) AS DOUBLE)
                 / count(rel_err), 4) AS mean_rel_err
    FROM j
    GROUP BY o_orderstatus
    """,
)
def audit_order_lineitem_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: does each order's header total
    agree with the sum of its line items' charges? Reports, per order
    status, childless orders and the within-5% / beyond-5% split — the
    integrity gate a warehouse runs after every load (and an honest one
    here: the synthetic corpus deliberately does NOT reconcile, so the
    report shows real drift, not vacuous zeros).

    Engine-exactness: per-order charges accumulate as DECIMAL(28,6) of
    identical double products (order-insensitive sum); relative errors
    sum in DECIMAL too, so even the mean is deterministic cross-engine.

    Scale: one map-side-combinable aggregate per side of one key-sized
    LEFT join (header side never explodes); output is |status| rows."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("charge")
        )
    )
    o = load_table(spark, sf_dir, "orders")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderstatus",
        F.col("l_orderkey").isNull().alias("childless"),
        F.when(
            F.col("l_orderkey").isNotNull(),
            F.abs(F.col("o_totalprice") - F.col("charge"))
            / F.col("o_totalprice"),
        ).alias("rel_err"),
    )
    within = (F.col("rel_err") < 0.05).cast("long")
    beyond = (F.col("rel_err") >= 0.05).cast("long")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("childless").cast("long")).cast("bigint").alias("n_childless"),
        F.sum(within).cast("bigint").alias("n_within_5pct"),
        F.sum(beyond).cast("bigint").alias("n_beyond_5pct"),
        F.round(F.sum(within) * 1.0 / F.count(F.lit(1)), 4).alias("within_rate"),
        F.round(
            F.sum(F.col("rel_err").cast("decimal(28,6)")).cast("double")
            / F.count("rel_err"),
            4,
        ).alias("mean_rel_err"),
    )


# --------------------------------------------------------------------------
# Data-contracts audit (dbt-style test sweep)
# --------------------------------------------------------------------------
@query(
    "audit_data_contracts",
    oracle="""
    SELECT 'orders' AS table_name, 'o_orderkey' AS column_name,
           'unique' AS check_name,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
           (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
            FROM orders) AS n_violations,
           (SELECT count(*) = count(DISTINCT o_orderkey) FROM orders)
             AS passed
    UNION ALL
    SELECT 'customer', 'c_custkey', 'unique',
           (SELECT CAST(count(*) AS BIGINT) FROM customer),
           (SELECT CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
            FROM customer),
           (SELECT count(*) = count(DISTINCT c_custkey) FROM customer)
    UNION ALL
    SELECT 'documents', 'doc_id', 'unique',
           (SELECT CAST(count(*) AS BIGINT) FROM documents),
           (SELECT CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
            FROM documents),
           (SELECT count(*) = count(DISTINCT doc_id) FROM documents)
    UNION ALL
    SELECT 'lineitem', 'l_orderkey,l_linenumber', 'unique',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                   AS BIGINT) FROM lineitem),
           (SELECT count(*) = count(DISTINCT (l_orderkey, l_linenumber))
            FROM lineitem)
    UNION ALL
    SELECT 'orders', 'o_orderstatus', 'accepted_values',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) FILTER (WHERE o_orderstatus NOT IN
                   ('F','O','P') OR o_orderstatus IS NULL) AS BIGINT)
            FROM orders),
           (SELECT count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')
                   OR o_orderstatus IS NULL) = 0 FROM orders)
    UNION ALL
    SELECT 'lineitem', 'l_returnflag', 'accepted_values',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) FILTER (WHERE l_returnflag NOT IN
                   ('A','N','R') OR l_returnflag IS NULL) AS BIGINT)
            FROM lineitem),
           (SELECT count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')
                   OR l_returnflag IS NULL) = 0 FROM lineitem)
    UNION ALL
    SELECT 'orders', 'o_custkey', 'not_null',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) - count(o_custkey) AS BIGINT) FROM orders),
           (SELECT count(*) = count(o_custkey) FROM orders)
    UNION ALL
    SELECT 'orders', 'o_custkey', 'relationship:customer.c_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)),
           (SELECT count(*) = 0 FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
    UNION ALL
    SELECT 'events', 'user_id', 'relationship:customer.c_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM events),
           (SELECT CAST(count(*) AS BIGINT) FROM events e
            WHERE e.user_id NOT IN (SELECT c_custkey FROM customer)),
           (SELECT count(*) = 0 FROM events e
            WHERE e.user_id NOT IN (SELECT c_custkey FROM customer))
    """,
)
def audit_data_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contracts sweep — the dbt-tests surface as one engine pass:
    uniqueness (single and composite keys), not-null, accepted-values,
    and relationship (referential) checks across five tables, one
    verdict row per contract. Honest on this corpus: the lineitem
    composite key and the events→customer relationship FAIL, and the
    report quantifies both.

    Scale: every check is a map-side-combinable aggregate or a key-sized
    LEFT ANTI join; verdict rows union trivially. This is the audit a
    warehouse gates loads on — same family as the reconciliation and
    k-anonymity gates above."""
    def row(table, column, check, n_rows, n_viol):
        return (
            n_rows.crossJoin(F.broadcast(n_viol))
            .select(
                F.lit(table).alias("table_name"),
                F.lit(column).alias("column_name"),
                F.lit(check).alias("check_name"),
                F.col("n").cast("bigint").alias("n_rows"),
                F.col("v").cast("bigint").alias("n_violations"),
                (F.col("v") == 0).alias("passed"),
            )
        )

    out = None
    uniq_checks = [
        ("orders", ["o_orderkey"]),
        ("customer", ["c_custkey"]),
        ("documents", ["doc_id"]),
        ("lineitem", ["l_orderkey", "l_linenumber"]),
    ]
    for table, cols in uniq_checks:
        t = load_table(spark, sf_dir, table)
        n = t.agg(F.count(F.lit(1)).alias("n"))
        v = t.agg(
            (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]))
            .alias("v")
        )
        r = row(table, ",".join(cols), "unique", n, v)
        out = r if out is None else out.unionByName(r)

    accepted = [
        ("orders", "o_orderstatus", ["F", "O", "P"]),
        ("lineitem", "l_returnflag", ["A", "N", "R"]),
    ]
    for table, col, vals in accepted:
        t = load_table(spark, sf_dir, table)
        n = t.agg(F.count(F.lit(1)).alias("n"))
        bad = ~F.col(col).isin(vals) | F.col(col).isNull()
        v = t.agg(F.sum(bad.cast("long")).alias("v"))
        out = out.unionByName(row(table, col, "accepted_values", n, v))

    o = load_table(spark, sf_dir, "orders")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    v = o.agg((F.count(F.lit(1)) - F.count("o_custkey")).alias("v"))
    out = out.unionByName(row("orders", "o_custkey", "not_null", n, v))

    rels = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]
    for ct, cc, pt, pc in rels:
        child = load_table(spark, sf_dir, ct)
        parent = load_table(spark, sf_dir, pt).select(
            F.col(pc).alias(cc)
        ).distinct()
        n = child.agg(F.count(F.lit(1)).alias("n"))
        v = child.join(parent, cc, "left_anti").agg(
            F.count(F.lit(1)).alias("v")
        )
        out = out.unionByName(
            row(ct, cc, f"relationship:{pt}.{pc}", n, v)
        )
    return out


# --------------------------------------------------------------------------
# Empirical-Bayes shrinkage (small-group estimates pulled toward global)
# --------------------------------------------------------------------------
_SHRINK_K = 20  # pseudo-count prior weight


@query(
    "stats_shrunken_source_value",
    oracle=f"""
    WITH x AS (
      SELECT source, CAST(n_chars AS BIGINT) AS c FROM documents),
    g AS (SELECT CAST(sum(c) AS BIGINT) AS gs, CAST(count(*) AS BIGINT) AS gn
          FROM x),
    s AS (SELECT source, CAST(sum(c) AS BIGINT) AS ss,
                 CAST(count(*) AS BIGINT) AS sn
          FROM x GROUP BY source)
    SELECT s.source, s.sn AS n_docs,
           round(s.ss * 1.0 / s.sn, 4) AS raw_mean,
           round((s.ss * 1.0 * gn + {_SHRINK_K} * 1.0 * gs)
                 / (s.sn * 1.0 * gn + {_SHRINK_K} * 1.0 * gn), 4)
             AS shrunk_mean,
           round(abs(s.ss * 1.0 / s.sn - gs * 1.0 / gn), 4)
             AS raw_dev_from_global,
           round(abs((s.ss * 1.0 * gn + {_SHRINK_K} * 1.0 * gs)
                     / (s.sn * 1.0 * gn + {_SHRINK_K} * 1.0 * gn)
                     - gs * 1.0 / gn), 4) AS shrunk_dev_from_global
    FROM s CROSS JOIN g
    """,
)
def stats_shrunken_source_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source mean document length:
    each source's estimate is pulled toward the global mean with a
    pseudo-count prior of 20 docs — the standard fix for trusting a
    3-document domain's average as much as a 3-million-document one
    (the per-domain quality priors a mixture planner consumes).

    shrunk = (sum + k*global_mean) / (n + k), computed as a ratio of
    exact integer products (multiply through by the global count — no
    fractional mean enters the arithmetic), so results are
    deterministic cross-engine. Scale: two combinable aggregates and a
    1-row global broadcast."""
    x = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("c")
    )
    g = x.agg(
        F.sum("c").cast("bigint").alias("gs"),
        F.count(F.lit(1)).cast("bigint").alias("gn"),
    )
    s = x.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("sn"),
    )
    k = _SHRINK_K
    raw = F.col("ss") * 1.0 / F.col("sn")
    glob = F.col("gs") * 1.0 / F.col("gn")
    shrunk = (F.col("ss") * 1.0 * F.col("gn") + k * 1.0 * F.col("gs")) / (
        F.col("sn") * 1.0 * F.col("gn") + k * 1.0 * F.col("gn")
    )
    return s.crossJoin(F.broadcast(g)).select(
        "source",
        F.col("sn").alias("n_docs"),
        F.round(raw, 4).alias("raw_mean"),
        F.round(shrunk, 4).alias("shrunk_mean"),
        F.round(F.abs(raw - glob), 4).alias("raw_dev_from_global"),
        F.round(F.abs(shrunk - glob), 4).alias("shrunk_dev_from_global"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (forensic data-quality check)
# --------------------------------------------------------------------------
@query(
    "audit_benford_prices",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
    o AS (SELECT digit, count(*) AS observed FROM d GROUP BY digit)
    SELECT o.digit, CAST(o.observed AS BIGINT) AS observed,
           round(total * log10(1.0 + 1.0 / o.digit), 4) AS benford_expected,
           round(o.observed * 1.0 / total, 4) AS observed_frac,
           round(log10(1.0 + 1.0 / o.digit), 4) AS benford_frac
    FROM o CROSS JOIN n
    """,
)
def audit_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: first-significant-digit
    frequencies vs the log10(1 + 1/d) expectation — the forensic screen
    for fabricated or clipped numeric columns (synthetic uniform-ish
    prices FAIL it, which this corpus honestly shows; real transaction
    amounts follow it).

    Exactness: digits come from integer string heads (floor first — no
    cross-engine CAST rounding); per-digit rows avoid any cross-row
    float summation, so every value is a single deterministic
    expression. Scale: one combinable digit count; the verdict table is
    9 rows."""
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    o = d.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return o.crossJoin(F.broadcast(n)).select(
        "digit",
        F.col("observed").cast("bigint").alias("observed"),
        F.round(F.col("total") * benford, 4).alias("benford_expected"),
        F.round(F.col("observed") * 1.0 / F.col("total"), 4).alias(
            "observed_frac"
        ),
        F.round(benford, 4).alias("benford_frac"),
    )
