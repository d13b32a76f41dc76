"""Hypertable-style timeseries operators over the irregular ``events``
stream: time-weighted averaging and gap-fill with forward-fill — the two
primitives a rollup/monitoring pipeline needs that plain groupBy lacks
(irregular sampling makes a row-average meaningless, and downstream
charting/joins need a dense grid).

No reference counterpart (the reference has no time type at all —
SURVEY.md §1.4); north-star additions alongside the incremental rollup.

Cross-engine determinism: interval durations are exact integer
MICROseconds (`unix_micros` here, `epoch_us` in DuckDB) — second-level
date_diff truncates fractional seconds differently across engines;
weighted sums accumulate in DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH d AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
      FROM events WHERE user_id < 50)
    SELECT user_id, count(*) AS n_intervals,
           round(CAST(sum(CAST(value * dur_us AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(sum(CAST(dur_us AS DECIMAL(28,6))) AS DOUBLE), 4)
             AS twa_value
    FROM d
    WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each observation is weighted by
    how long it was current (interval to the next event), the standard
    irregular-sampling aggregate (a plain avg over-weights bursts).

    Scale: one shuffle on user_id shared by the lead() window and the
    final groupBy (same key — AQE coalesces); weights are exact integer
    microseconds so the DECIMAL-accumulated weighted sum is
    order-insensitive cross-engine."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dur_us = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    d = ev.select("user_id", "value", dur_us.alias("dur_us")).filter(
        F.col("dur_us").isNotNull() & (F.col("dur_us") > 0)
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum((F.col("value") * F.col("dur_us")).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.sum(F.col("dur_us").cast("decimal(28,6)")).cast("double"),
            4,
        ).alias("twa_value"),
    )


@query(
    "events_gap_fill_hourly",
    oracle="""
    WITH hv AS (
      SELECT user_id, hour, value AS hour_value
      FROM (
        SELECT user_id, date_trunc('hour', ts) AS hour, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id < 20)
      WHERE rn = 1),
    span AS (
      SELECT user_id, min(hour) AS h0, max(hour) AS h1
      FROM hv GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM span)
    SELECT g.user_id,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           round(last_value(hv.hour_value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.hour
                   ROWS UNBOUNDED PRECEDING), 4) AS filled_value,
           (hv.user_id IS NULL) AS is_gap
    FROM grid g LEFT JOIN hv ON hv.user_id = g.user_id AND hv.hour = g.hour
    """,
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill: densify each user's event stream onto an hourly grid
    between their first and last active hour, forward-filling the last
    observed value (LOCF) and flagging synthesized rows.  The dense grid
    is what downstream windowed joins and charting expect.

    Scale: the grid is generated with `sequence()` per user — no driver
    loop, no cross join against a calendar table; cardinality is
    sum(user spans), not users x global span.  The LOCF is one
    `last(ignorenulls)` window on the same user_id partitioning the
    grid already has.  At 100 TB the grid explode is map-side (each
    user's span row expands locally) and the only shuffles are the
    per-hour dedup and the fill window, both on user_id."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hour = F.date_trunc("hour", F.col("ts"))
    rn = F.row_number().over(
        W.partitionBy("user_id", "hour").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    hv = (
        ev.select("user_id", hour.alias("hour"), "value", "ts", "event_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", F.col("value").alias("hour_value"))
    )
    span = hv.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    filled = (
        grid.join(hv, ["user_id", "hour"], "left")
        .withColumn("is_gap", F.col("hour_value").isNull())
        .withColumn(
            "filled_value",
            F.round(
                F.last("hour_value", ignorenulls=True).over(
                    W.partitionBy("user_id")
                    .orderBy("hour")
                    .rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
                4,
            ),
        )
    )
    return filled.select(
        "user_id",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "filled_value",
        "is_gap",
    )


@query(
    "asof_join_next_purchase_after_error",
    oracle="""
    SELECT e.event_id, e.user_id, m.purchase_event_id, m.secs_ahead
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error') e
    LEFT JOIN (
      SELECT event_id, purchase_event_id,
             CAST(gap_us // 1000000 AS BIGINT) AS secs_ahead
      FROM (
        SELECT e.event_id, p.event_id AS purchase_event_id,
               epoch_us(p.ts) - epoch_us(e.ts) AS gap_us,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY p.ts, p.event_id) AS rn
        FROM events e JOIN events p
          ON p.user_id = e.user_id
         AND p.event_type = 'purchase'
         AND p.ts >  e.ts
         AND p.ts <= e.ts + INTERVAL 24 HOUR
        WHERE e.event_type = 'error')
      WHERE rn = 1) m ON m.event_id = e.event_id
    """,
)
def asof_join_next_purchase_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join WITH tolerance: each error event picks the
    FIRST purchase of the same user strictly after it but within 24
    hours, or NULL (left semantics — the tolerance bound is what keeps
    the candidate set finite on an unbounded right side).  Complements
    the backward variant (asof_join_last_order_before_event) and differs
    from range_join_error_context, which keeps ALL rows in the range
    rather than picking one.

    Scale: equi-key + bounded-range self-join shuffled on user_id; the
    per-probe argmin is min(struct(ts, id)) — a map-side-combinable hash
    aggregate, not a row_number window (same rationale as the k-means
    assignment); the 24 h bound enables partition-range pruning when the
    stream is time-partitioned.  The gap is exact integer microseconds
    (see module docstring), output in whole seconds."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    matched = err.join(
        pur,
        (pur.p_user == err.user_id)
        & (pur.p_ts > err.ts)
        & (pur.p_ts <= err.ts + F.expr("interval 24 hours")),
    )
    best = matched.groupBy("event_id").agg(
        F.min(
            F.struct(F.col("p_ts").alias("bts"), F.col("p_id").alias("bid"))
        ).alias("b")
    )
    return err.join(best, "event_id", "left").select(
        "event_id",
        "user_id",
        F.col("b.bid").alias("purchase_event_id"),
        F.floor(
            (F.unix_micros(F.col("b.bts")) - F.unix_micros(F.col("ts"))) / 1000000
        )
        .cast("bigint")
        .alias("secs_ahead"),
    )


@query(
    "events_rate_anomaly",
    oracle="""
    WITH h AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS snn
      FROM h GROUP BY 1),
    z AS (
      SELECT h.user_id, h.hour, h.n,
             sn * 1.0 / cnt AS m,
             (snn - sn * 1.0 * sn / cnt) / (cnt - 1) AS var
      FROM h JOIN s ON h.user_id = s.user_id
      WHERE cnt > 1)
    SELECT user_id, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, n,
           round(CAST(CAST((n - m) / sqrt(var) AS DECIMAL(18,8)) AS DOUBLE), 4)
             AS zscore
    FROM z
    WHERE var > 0 AND n > m + 2 * sqrt(var)
    """,
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-rate anomaly detection: hours whose event count
    exceeds that user's mean + 2 sigma (sample variance over the user's
    active hours).

    Cross-engine determinism: mean/variance are NOT the engines'
    avg()/stddev() builtins (single-pass streaming implementations
    differ in final ulps and a knife-edge threshold row could flip) —
    both engines compute the identical closed-form from EXACT integer
    sums (n, n^2 per user), so every double on both sides derives from
    the same integer arithmetic.  The z quotient rounds through
    DECIMAL(18,8) (half-boundary round parity).

    Scale: one shuffle to (user, hour) counts, a second keyed on user for
    the moment sums, then a broadcast-size join back — the per-user
    moment table is tiny.  This is the streaming-friendly shape too: the
    moment sums are monoid partials."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = h.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    ).filter(F.col("cnt") > 1)
    m = F.col("sn") * 1.0 / F.col("cnt")
    var = (F.col("snn") - F.col("sn") * 1.0 * F.col("sn") / F.col("cnt")) / (
        F.col("cnt") - 1
    )
    return (
        h.join(F.broadcast(s), "user_id")
        .withColumn("m", m)
        .withColumn("var", var)
        .filter((F.col("var") > 0) & (F.col("n") > F.col("m") + 2 * F.sqrt("var")))
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            F.round(
                ((F.col("n") - F.col("m")) / F.sqrt("var"))
                .cast("decimal(18,8)")
                .cast("double"),
                4,
            ).alias("zscore"),
        )
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase,
           round((SELECT count(*) FROM p) * 1.0
                 / (SELECT count(*) FROM v), 4) AS conversion
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel (view -> click -> purchase): users whose
    first view precedes a click that precedes a purchase, with the
    end-to-end conversion rate.  The standard product-analytics query.

    Scale: three per-user min aggregations on the same shuffle key
    (user_id) — each stage's per-user frontier is one timestamp, and the
    stage joins are on the already-partitioned key (AQE reuses the
    partitioning; no row ever carries more than (user, ts)).  Ordering
    compares raw event timestamps — exact microsecond integers — so no
    float is involved until the final ratio."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )
    return counts.select(
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        F.round(F.col("n_view_click_purchase") / F.col("n_view"), 4).alias(
            "conversion"
        ),
    )


# --------------------------------------------------------------------------
# Group-wise linear trend: ordinary-least-squares slope/intercept of
# event value against hours-since-epoch-start, one fit per event type —
# the "is this metric drifting" primitive, computed in closed form from
# exact integer sums (the stats_price_moments recipe).
# --------------------------------------------------------------------------
@query(
    "events_value_trend",
    oracle="""
    WITH x AS (
      SELECT event_type,
             date_diff('hour', TIMESTAMP '2024-01-01', ts) AS h,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    s AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(h) AS BIGINT) AS sx,
             sum(CAST(h AS HUGEINT) * h) AS sxx,
             CAST(sum(c) AS BIGINT) AS sy,
             sum(CAST(h AS HUGEINT) * c) AS sxy
      FROM x GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / 100.0, 6) AS slope_per_hour,
           round((CAST(sy AS DOUBLE)
                  - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / n / 100.0, 4) AS intercept
    FROM s
    """,
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time (slope per hour +
    intercept at the stream epoch), in closed form from exact integer
    sums: hours are exact ints, values are exact cents, so the moment
    sums are partition-order independent and the double finish is
    bit-identical in any engine (the stats_price_moments recipe applied
    to a regression).

    Scale: one narrow projection + one map-side-combinable agg on the
    5-key event_type space — the minimal possible shape; sxx/sxy
    accumulate in DECIMAL(38,0) (hour^2 x trillions of rows overflows
    int64; Spark would wrap silently, DuckDB widens to HUGEINT)."""
    ev = load_table(spark, sf_dir, "events")
    # ts is naive; recover the same hour diff DuckDB computes by integer
    # flooring the second offset (events start exactly at 2024-01-01).
    hours = F.floor(
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lit("2024-01-01 00:00:00")))
        / 3600
    ).cast("decimal(20,0)")
    cents = F.round(F.col("value") * 100).cast("decimal(20,0)")
    s = ev.select(
        "event_type", hours.alias("h"), cents.alias("c")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h").cast("long").alias("sx"),
        F.sum(F.col("h") * F.col("h")).alias("sxx"),
        F.sum("c").cast("long").alias("sy"),
        F.sum(F.col("h") * F.col("c")).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return s.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 6).alias("slope_per_hour"),
        F.round(intercept / 100.0, 4).alias("intercept"),
    )


# --------------------------------------------------------------------------
# IQR outlier detection: Tukey fences per event type over integer-cent
# values.  Quartiles interpolate at exact quarter fractions of integers,
# so the fences are exact binary fractions (multiples of 1/8 of a cent)
# and the outlier comparisons are knife-edge-free in any engine.
# --------------------------------------------------------------------------
@query(
    "events_value_outliers",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
    q AS (
      SELECT event_type, count(*) AS n,
             quantile_cont(c, 0.25) AS q1c,
             quantile_cont(c, 0.75) AS q3c
      FROM x GROUP BY event_type)
    SELECT q.event_type, CAST(q.n AS BIGINT) AS n,
           round(q1c / 100.0, 4) AS q1,
           round(q3c / 100.0, 4) AS q3,
           round((q3c - q1c) / 100.0, 4) AS iqr,
           CAST(count(*) FILTER (WHERE c < q1c - 1.5 * (q3c - q1c)
                                    OR c > q3c + 1.5 * (q3c - q1c)) AS BIGINT)
             AS n_outliers,
           round(count(*) FILTER (WHERE c < q1c - 1.5 * (q3c - q1c)
                                     OR c > q3c + 1.5 * (q3c - q1c))
                 * 1.0 / q.n, 4) AS outlier_frac
    FROM x JOIN q USING (event_type)
    GROUP BY q.event_type, q.n, q1c, q3c
    """,
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report per event type: quartiles, IQR, and
    the count/fraction of values outside [q1 - 1.5*IQR, q3 + 1.5*IQR].

    Engine-exactness: quartiles of INTEGER cents interpolate at fractions
    in {0, .25, .5, .75} — exactly representable, so q1/q3 and the 1.5*IQR
    fences are exact multiples of 1/8 cent in both engines and no value
    ever sits ambiguously on a fence.

    Scale: quartiles per group need a per-key sort of that key's values —
    at 100 TB swap `percentile` for `percentile_approx` (t-digest,
    mergeable map-side) and the fences stay within the sketch's rank
    error; the comparison/count pass is unchanged.  The fence join
    broadcasts the 5-row quartile table back onto the stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    q = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(c, 0.25)").alias("q1c"),
        F.expr("percentile(c, 0.75)").alias("q3c"),
    )
    lo = F.col("q1c") - 1.5 * (F.col("q3c") - F.col("q1c"))
    hi = F.col("q3c") + 1.5 * (F.col("q3c") - F.col("q1c"))
    out = (F.col("c") < lo) | (F.col("c") > hi)
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1c", "q3c")
        .agg(
            F.count_if(out).alias("n_outliers"),
            F.round(F.count_if(out) * 1.0 / F.col("n"), 4).alias("outlier_frac"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("q1c") / 100.0, 4).alias("q1"),
            F.round(F.col("q3c") / 100.0, 4).alias("q3"),
            F.round((F.col("q3c") - F.col("q1c")) / 100.0, 4).alias("iqr"),
            "n_outliers",
            "outlier_frac",
        )
    )


# --------------------------------------------------------------------------
# Exponentially-weighted moving average (recursive fold)
# --------------------------------------------------------------------------
@query(
    "events_ewma_value",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 100),
    r AS (
      SELECT user_id, rn, value AS s FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.value * 0.5 + r.s * 0.5
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
    SELECT user_id, CAST(rn AS BIGINT) AS n_events,
           round(s, 4) AS ewma_value
    FROM (SELECT user_id, rn, s,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY rn DESC) AS k
          FROM r)
    WHERE k = 1
    """,
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha = 0.5) of each user's event values in time order —
    the classic smoothing recurrence s_i = a*v_i + (1-a)*s_{i-1} that no
    window frame expresses (each output depends on the previous OUTPUT,
    not a fixed frame of inputs).

    Spark shape: per-user ordered fold via sort_array(collect_list) +
    the higher-order ``aggregate`` lambda — one shuffle on user_id, the
    fold itself is JVM codegen, state is O(1) per key. The streaming
    twin of this shape is an ``applyInPandasWithState`` accumulator; in
    batch the bounded per-key event list (users have bounded activity)
    folds in one pass. alpha = 0.5 keeps every multiply exact (power of
    two), so the only float rounding is the adds — bit-identical across
    engines, no tie hazard at round(4).

    Reference has no time/aggregation surface (SURVEY.md §1.4)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    fold = F.aggregate(
        F.col("ordered"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["value"]).otherwise(
            x["value"] * 0.5 + acc * 0.5
        ),
    )
    return (
        ev.groupBy("user_id")
        .agg(arr.alias("ordered"))
        .select(
            "user_id",
            F.size("ordered").cast("bigint").alias("n_events"),
            F.round(fold, 4).alias("ewma_value"),
        )
    )


# --------------------------------------------------------------------------
# Rolling exact median (robust monitoring statistic)
# --------------------------------------------------------------------------
@query(
    "events_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_frame,
           round(quantile_cont(value, 0.5) OVER w, 4) AS rolling_median
    FROM events WHERE user_id < 30
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median of each user's last 10 event values — the
    robust trailing statistic monitoring pipelines prefer over the mean
    (one outlier moves a trailing mean for 10 ticks; the median shrugs).

    Scale: one shuffle on user_id; the 10-row frame keeps per-row work
    constant and bounded (Spark recomputes the frame's percentile per
    row — O(frame log frame) JVM-side, no Python). Spark ``percentile``
    and DuckDB ``quantile_cont`` use the same linear interpolation, and
    even-frame midpoints are exact (a+b)/2 in both engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_frame"),
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias(
            "rolling_median"
        ),
    )


# --------------------------------------------------------------------------
# Seasonality profile (hour-of-day fingerprint)
# --------------------------------------------------------------------------
@query(
    "events_seasonality_profile",
    oracle="""
    WITH prof AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
             count(*) AS n_events,
             (sum(c) * 200 + count(c)) // (2 * count(c)) / 10000 AS avg_value
      FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS c FROM events)
      GROUP BY 1, 2)
    SELECT event_type, hour_of_day, n_events, avg_value,
           (row_number() OVER (PARTITION BY event_type
                               ORDER BY n_events DESC, hour_of_day) = 1)
             AS is_peak_hour
    FROM prof
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality fingerprint per event type: event counts
    and mean value for each of the 24 hours, with the peak hour flagged
    — the profile a capacity planner or anomaly detector baselines
    against (rate_anomaly upstream of this compares against a GLOBAL
    mean; real traffic is diurnal).

    Scale: one map-side-combinable groupBy onto a bounded output
    (|types| x 24 rows); the peak flag windows over that tiny profile,
    not the events. Timestamps are UTC-normalized at the source
    (sources/tables.py), so hour() agrees across engines.

    The mean is exact: summed in integer cents, rounded half-up to 1e-4
    in integers, then divided once by 10^4.  A float sum's last bits
    depend on summation order, and the engines' ``round(double, 4)``
    disagree on a double just below a half-way point (68.92875: Spark
    rounds its shortest decimal up, DuckDB rounds its binary value
    down)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "c", F.round(F.col("value") * 100).cast("long")
    )
    prof = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("(sum(c) * 200 + count(c)) div (2 * count(c)) / 10000").alias(
            "avg_value"
        ),
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), "hour_of_day"
    )
    return prof.select(
        "event_type",
        "hour_of_day",
        "n_events",
        "avg_value",
        (F.row_number().over(w) == 1).alias("is_peak_hour"),
    )


# --------------------------------------------------------------------------
# MAD robust outliers (median absolute deviation)
# --------------------------------------------------------------------------
@query(
    "events_mad_outliers",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
    m AS (
      SELECT event_type, count(*) AS n, quantile_cont(c, 0.5) AS medc
      FROM x GROUP BY event_type),
    d AS (
      SELECT x.event_type, c, medc, n, abs(c - medc) AS adev
      FROM x JOIN m USING (event_type)),
    md AS (
      SELECT event_type, any_value(n) AS n, any_value(medc) AS medc,
             quantile_cont(adev, 0.5) AS madc
      FROM d GROUP BY event_type)
    SELECT d.event_type, CAST(md.n AS BIGINT) AS n,
           round(md.medc / 100.0, 4) AS median,
           round(md.madc / 100.0, 4) AS mad,
           CAST(count(*) FILTER (WHERE d.adev > 3 * md.madc) AS BIGINT)
             AS n_outliers,
           round(count(*) FILTER (WHERE d.adev > 3 * md.madc) * 1.0 / md.n, 4)
             AS outlier_frac
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type, md.n, md.medc, md.madc
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier report per event type — the
    robust companion to the Tukey-fence report above: MAD ignores what
    the tails do entirely (50% breakdown point), so it keeps working
    when the contamination itself is heavy.

    Engine-exactness: same integer-cent trick as the IQR report —
    medians of BIGINT cents interpolate at exact halves, absolute
    deviations are exact half-cent multiples, their median is an exact
    quarter-cent multiple, and the 3*MAD fence never lands ambiguously.

    Scale: two aggregate passes (median, then deviation median) each
    map-side-partial on event_type, with the tiny per-type stats table
    broadcast back between them; at 100 TB swap exact ``percentile``
    for mergeable ``percentile_approx`` and the shape is unchanged."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(c, 0.5)").alias("medc"),
    )
    d = ev.join(F.broadcast(m), "event_type").select(
        "event_type", "n", "medc", F.abs(F.col("c") - F.col("medc")).alias("adev")
    )
    md = d.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.first("medc").alias("medc"),
        F.expr("percentile(adev, 0.5)").alias("madc"),
    )
    out = F.col("adev") > 3 * F.col("madc")
    return (
        d.select("event_type", "adev")
        .join(F.broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n").cast("bigint").alias("n"),
            F.round(F.first("medc") / 100.0, 4).alias("median"),
            F.round(F.first("madc") / 100.0, 4).alias("mad"),
            F.sum(out.cast("long")).cast("bigint").alias("n_outliers"),
            F.round(F.sum(out.cast("long")) * 1.0 / F.first("n"), 4).alias(
                "outlier_frac"
            ),
        )
    )


# --------------------------------------------------------------------------
# CUSUM drift detection (control-chart statistic)
# --------------------------------------------------------------------------
@query(
    "events_cusum_drift",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE user_id < 50),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
          FROM x),
    d AS (
      SELECT user_id, event_id,
             CAST(sum(c * n - s) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cus,
             n
      FROM x CROSS JOIN t),
    p AS (
      SELECT user_id, max(abs(cus)) AS peak, any_value(n) AS n,
             CAST(count(*) AS BIGINT) AS n_events,
             min(CASE WHEN abs(cus) = max_abs THEN event_id END)
               AS peak_event_id
      FROM (SELECT *, max(abs(cus)) OVER (PARTITION BY user_id) AS max_abs
            FROM d)
      GROUP BY user_id),
    sgn AS (
      SELECT d.user_id, d.cus AS peak_cus FROM d
      JOIN p ON p.user_id = d.user_id AND p.peak_event_id = d.event_id)
    SELECT p.user_id, p.n_events,
           round(p.peak * 1.0 / (100.0 * p.n), 4) AS peak_cusum,
           p.peak_event_id,
           CASE WHEN s.peak_cus > 0 THEN 1
                WHEN s.peak_cus < 0 THEN -1 ELSE 0 END AS drift_direction
    FROM p JOIN sgn s ON s.user_id = p.user_id
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control-chart drift detector per user: the running sum of
    deviations from the population mean, whose peak magnitude and
    location mark sustained drift (a mean shift the per-point anomaly
    detectors can't see — each point looks normal, the SUM walks away).

    Engine-exactness: deviations are computed as ``c*n - S`` in integer
    cent-times-count units (no fractional mean anywhere), so the prefix
    sums, peak, argmax event, and direction are exact integers; only the
    final report divides. Scale: one 1-row totals broadcast, one
    user-keyed ordered window, one aggregate — the streaming twin would
    carry (cumsum, peak) as O(1) keyed state."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    x = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    t = x.agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    d = x.crossJoin(F.broadcast(t)).select(
        "user_id",
        "event_id",
        F.sum(F.col("c") * F.col("n") - F.col("s"))
        .over(w)
        .cast("bigint")
        .alias("cus"),
        "n",
    )
    wm = W.partitionBy("user_id")
    dd = d.withColumn("max_abs", F.max(F.abs(F.col("cus"))).over(wm))
    p = dd.groupBy("user_id").agg(
        F.max(F.abs(F.col("cus"))).alias("peak"),
        F.first("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min(
            F.when(F.abs(F.col("cus")) == F.col("max_abs"), F.col("event_id"))
        ).alias("peak_event_id"),
    )
    sgn = (
        d.withColumnRenamed("event_id", "peak_event_id")
        .join(p.select("user_id", "peak_event_id"), ["user_id", "peak_event_id"])
        .select("user_id", F.col("cus").alias("peak_cus"))
    )
    return (
        p.join(sgn, "user_id")
        .select(
            "user_id",
            "n_events",
            F.round(F.col("peak") * 1.0 / (100.0 * F.col("n")), 4).alias(
                "peak_cusum"
            ),
            "peak_event_id",
            F.when(F.col("peak_cus") > 0, 1)
            .when(F.col("peak_cus") < 0, -1)
            .otherwise(0)
            .alias("drift_direction"),
        )
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (backtest)
# --------------------------------------------------------------------------
_FC_TEST_DAY = "2024-01-30"  # last day of the synthetic stream
_FC_TRAIN_DAYS = 29


@query(
    "events_seasonal_naive_eval",
    oracle=f"""
    WITH grid AS (
      SELECT event_type, h FROM (SELECT DISTINCT event_type FROM events),
           (SELECT unnest(range(24)) AS h)),
    train AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS t
      FROM events WHERE CAST(ts AS DATE) < DATE '{_FC_TEST_DAY}'
      GROUP BY 1, 2),
    test AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS a
      FROM events WHERE CAST(ts AS DATE) = DATE '{_FC_TEST_DAY}'
      GROUP BY 1, 2),
    j AS (
      SELECT g.event_type,
             coalesce(test.a, 0) AS a, coalesce(train.t, 0) AS t
      FROM grid g
      LEFT JOIN train ON train.event_type = g.event_type AND train.h = g.h
      LEFT JOIN test  ON test.event_type  = g.event_type AND test.h  = g.h)
    SELECT event_type,
           CAST(sum(a) AS BIGINT) AS test_events,
           round(CAST(sum(abs({_FC_TRAIN_DAYS} * a - t)) AS BIGINT)
                 / (24.0 * {_FC_TRAIN_DAYS}), 4) AS mae,
           round(CAST({_FC_TRAIN_DAYS} * sum(a) - sum(t) AS BIGINT)
                 / (24.0 * {_FC_TRAIN_DAYS}), 4) AS bias
    FROM j GROUP BY event_type
    """,
)
def events_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster: predict each hour of
    the final day as the mean of that hour over the 29 training days,
    and report per-type MAE and bias on the dense 24-hour grid (missing
    hours count as zero — skipping them flatters the forecast).

    Engine-exactness: errors accumulate as ``|29*actual - train_total|``
    — exact integers — with ONE division at the report line, so MAE and
    bias are deterministic cross-engine (a per-hour float mean would sum
    24 doubles in engine-specific order). Scale: two map-side-combinable
    aggregates over a partition-prunable date split + a bounded
    |types| x 24 grid join."""
    ev = load_table(spark, sf_dir, "events")
    test_day = F.lit(_FC_TEST_DAY).cast("date")
    train = (
        ev.filter(F.col("ts").cast("date") < test_day)
        .groupBy("event_type", F.hour("ts").cast("bigint").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    test = (
        ev.filter(F.col("ts").cast("date") == test_day)
        .groupBy("event_type", F.hour("ts").cast("bigint").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(24).select(F.col("id").cast("bigint").alias("h"))
        )
    )
    j = (
        grid.join(train, ["event_type", "h"], "left")
        .join(test, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("t", F.lit(0)).alias("t"),
        )
    )
    k = _FC_TRAIN_DAYS
    return j.groupBy("event_type").agg(
        F.sum("a").cast("bigint").alias("test_events"),
        F.round(
            F.sum(F.abs(k * F.col("a") - F.col("t"))).cast("bigint")
            / (24.0 * k),
            4,
        ).alias("mae"),
        F.round(
            (k * F.sum("a") - F.sum("t")).cast("bigint") / (24.0 * k), 4
        ).alias("bias"),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# --------------------------------------------------------------------------
@query(
    "events_theilsen_daily_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT a.event_type,
             (b.vc - a.vc) * 1.0 / ((b.day - a.day) * 100.0) AS slope
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 4) AS theilsen_slope
    FROM s GROUP BY event_type
    """,
)
def events_theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend per event type: the MEDIAN of all pairwise slopes
    of the daily value series — the robust alternative to the OLS trend
    upstream (one wild day drags a least-squares slope; the slope median
    ignores up to 29% contamination).

    Engine-exactness: daily sums are exact integer cents, so every
    pairwise slope is the same integer-ratio double in both engines and
    the median interpolates identically. Scale: the pair enumeration is
    per-type over the DAILY aggregate (30 points → 435 pairs per type,
    bounded by the calendar, never by row count) — the classic trick
    that makes Theil-Sen feasible at scale: aggregate first, enumerate
    pairs on the bounded series."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("vc")
    )
    a = d.select(
        "event_type", F.col("day").alias("da"), F.col("vc").alias("va")
    )
    b = d.select(
        "event_type", F.col("day").alias("db"), F.col("vc").alias("vb")
    )
    s = a.join(b, "event_type").filter(F.col("da") < F.col("db")).select(
        "event_type",
        (
            (F.col("vb") - F.col("va"))
            * 1.0
            / ((F.col("db") - F.col("da")) * 100.0)
        ).alias("slope"),
    )
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 4).alias("theilsen_slope"),
    )


# --------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend recursion)
# --------------------------------------------------------------------------
@query(
    "events_holt_smoothing",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 50),
    r AS (
      SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn,
             o.value * 0.5 + (r.l + r.b) * 0.5,
             (o.value * 0.5 + (r.l + r.b) * 0.5 - r.l) * 0.25 + r.b * 0.75
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
    SELECT user_id, CAST(rn AS BIGINT) AS n_events,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + b, 4) AS forecast_next
    FROM (SELECT user_id, rn, l, b,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY rn DESC) AS k
          FROM r)
    WHERE k = 1
    """,
)
def events_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user (level + trend, the
    step past EWMA when streams drift): l = a*v + (1-a)(l+b),
    b = g*(l-l_prev) + (1-g)*b, one-step-ahead forecast l+b.

    Engine-exactness: a = 1/2 and g = 1/4 with 1-g = 3/4 — every
    smoothing multiply is by an exactly-representable dyadic constant
    (one rounding per multiply, identical in IEEE), and the fold order
    is pinned by sort_array, so the recursion is bit-identical to the
    recursive-CTE oracle. Scale: same shape as the EWMA fold — one
    shuffle on the key, O(1) state per key (streaming twin would carry
    (l, b) in keyed state)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    fold = F.aggregate(
        F.col("ordered"),
        F.expr(
            "named_struct('l', CAST(NULL AS DOUBLE), 'b', CAST(0.0 AS DOUBLE))"
        ),
        lambda acc, x: F.when(
            acc["l"].isNull(),
            F.struct(x["value"].alias("l"), F.lit(0.0).alias("b")),
        ).otherwise(
            F.struct(
                (x["value"] * 0.5 + (acc["l"] + acc["b"]) * 0.5).alias("l"),
                (
                    (x["value"] * 0.5 + (acc["l"] + acc["b"]) * 0.5 - acc["l"])
                    * 0.25
                    + acc["b"] * 0.75
                ).alias("b"),
            )
        ),
    )
    return (
        ev.groupBy("user_id")
        .agg(arr.alias("ordered"))
        .select(
            "user_id",
            F.size("ordered").cast("bigint").alias("n_events"),
            fold.alias("st"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("st.l"), 4).alias("level"),
            F.round(F.col("st.b"), 4).alias("trend"),
            F.round(F.col("st.l") + F.col("st.b"), 4).alias("forecast_next"),
        )
    )


# --------------------------------------------------------------------------
# Lead-lag cross-correlation between event-type series
# --------------------------------------------------------------------------
_XC_LAGS = (-2, -1, 0, 1, 2)


@query(
    "events_leadlag_xcorr",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    lags AS (SELECT unnest(ARRAY{list(_XC_LAGS)}) AS lag),
    j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             a.c AS x, b.c AS y
      FROM h a
      CROSS JOIN lags l
      JOIN h b ON b.hr = a.hr + to_hours(l.lag)
             AND a.event_type < b.event_type),
    m AS (
      SELECT type_a, type_b, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM j GROUP BY 1, 2, 3)
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n,
           round((n * sxy - sx * sy) * 1.0
                 / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                 4) AS xcorr
    FROM m
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
)
def events_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between event-type hourly series at
    lags -2..+2 hours — the "do clicks lead purchases?" diagnostic:
    Pearson correlation of (count_a at t, count_b at t+lag), the lag
    with the peak identifying the causal ordering candidate.

    Engine-exactness: all five moment sums are exact integers; the
    Pearson formula is a single fixed-order double expression — no
    float ever accumulates. Scale: hourly compression first (bounded
    |types| x hours), then a lag-shifted equi-join on the compressed
    grid; the moment aggregate collapses to |pairs| x |lags| rows."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    lags = spark.createDataFrame(
        [(lag,) for lag in _XC_LAGS], "lag int"
    )
    a = h.select(
        F.col("event_type").alias("type_a"), "hr", F.col("c").alias("x")
    )
    b = h.select(
        F.col("event_type").alias("type_b"),
        F.col("hr").alias("hr_b"),
        F.col("c").alias("y"),
    )
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (
                F.col("hr_b")
                == F.col("hr") + F.make_interval(hours=F.col("lag"))
            )
            & (F.col("type_a") < F.col("type_b")),
        )
    )
    m = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.filter((vx > 0) & (vy > 0)).select(
        "type_a",
        "type_b",
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * 1.0
            / F.sqrt(vx * 1.0 * vy),
            4,
        ).alias("xcorr"),
    )


# --------------------------------------------------------------------------
# OHLC bar resampling — downsample the irregular event stream into
# fixed 15-minute bars per event type: open/high/low/close/volume (the
# finance-standard compressed representation; same shape as any
# monitoring downsampler's first/max/min/last rollup).
# --------------------------------------------------------------------------
_OHLC_MIN = 15


@query(
    "events_ohlc_bars",
    oracle=f"""
    WITH v AS (
      SELECT event_type,
             to_timestamp(CAST(floor(epoch(ts) / ({_OHLC_MIN} * 60))
                               AS BIGINT) * ({_OHLC_MIN} * 60)) AS bar_ts,
             ts, event_id, value
      FROM events WHERE value IS NOT NULL AND event_type <= 'login'),
    o AS (
      SELECT event_type, bar_ts, value AS open_v FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type, bar_ts
                                     ORDER BY ts, event_id) AS rn
        FROM v) WHERE rn = 1),
    c AS (
      SELECT event_type, bar_ts, value AS close_v FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type, bar_ts
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM v) WHERE rn = 1)
    SELECT v.event_type,
           strftime(v.bar_ts, '%Y-%m-%d %H:%M:%S') AS bar_start,
           CAST(count(*) AS BIGINT) AS volume,
           round(any_value(o.open_v), 4) AS open,
           round(max(v.value), 4) AS high,
           round(min(v.value), 4) AS low,
           round(any_value(c.close_v), 4) AS close
    FROM v JOIN o ON o.event_type = v.event_type AND o.bar_ts = v.bar_ts
           JOIN c ON c.event_type = v.event_type AND c.bar_ts = v.bar_ts
    GROUP BY v.event_type, v.bar_ts
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: {m}-minute bars per event type with open
    (earliest by (ts, event_id)), high, low, close (latest), volume.
    Open/close are selected via min/max over a (ts, event_id, value)
    STRUCT — a hash aggregate with map-side partials, not a row_number
    window over the stream (the oracle uses the window formulation to
    prove the struct ordering picks the identical rows; ties are broken
    by event_id so the selection is deterministic).

    Scale: ONE map-side-combinable groupBy per bar — the compression
    operator that turns a 100 TB tick stream into dashboard-sized bars;
    the struct min/max carries a constant payload per group however
    many rows a bar holds.  Restricted to two event types only to bound
    the oracle's three scans.
    """.format(m=_OHLC_MIN)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("event_type") <= "login"))
        .select(
            "event_type",
            F.to_timestamp(
                F.floor(F.unix_timestamp("ts") / (_OHLC_MIN * 60))
                * (_OHLC_MIN * 60)
            ).alias("bar_ts"),
            "ts",
            "event_id",
            "value",
        )
    )
    first = F.min(F.struct("ts", "event_id", F.col("value").alias("v")))
    last = F.max(F.struct("ts", "event_id", F.col("value").alias("v")))
    return ev.groupBy("event_type", "bar_ts").agg(
        F.count(F.lit(1)).alias("volume"),
        F.round(first.getField("v"), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(last.getField("v"), 4).alias("close"),
    ).select(
        "event_type",
        F.date_format("bar_ts", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "volume",
        "open",
        "high",
        "low",
        "close",
    )


# --------------------------------------------------------------------------
# Changepoint detection via binary segmentation (one split): the day t*
# maximizing the between-segment variance reduction of daily value sums.
# Companion to events_cusum_drift (which ACCUMULATES drift evidence);
# binary segmentation LOCATES the single best breakpoint — the first
# recursion step of the classic changepoint algorithm (Scott & Knott /
# binary segmentation, public literature).
# --------------------------------------------------------------------------


@query(
    "events_changepoint_binary_seg",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS HUGEINT) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS HUGEINT) AS nn,
                   CAST(sum(s) AS HUGEINT) AS ss FROM daily),
    pre AS (
      SELECT d,
             CAST(sum(n) OVER (ORDER BY d) AS HUGEINT) AS n1,
             CAST(sum(s) OVER (ORDER BY d) AS HUGEINT) AS s1
      FROM daily),
    cand AS (
      SELECT pre.d, n1, s1, tot.nn - n1 AS n2, tot.ss - s1 AS s2,
             s1 * s1 * (tot.nn - n1) + (tot.ss - s1) * (tot.ss - s1) * n1
               AS num,
             n1 * (tot.nn - n1) AS den
      FROM pre, tot
      WHERE n1 > 0 AND tot.nn - n1 > 0),
    best AS (
      SELECT * FROM cand c1
      WHERE NOT EXISTS (
        SELECT 1 FROM cand c2
        WHERE c2.num * c1.den > c1.num * c2.den
           OR (c2.num * c1.den = c1.num * c2.den AND c2.d < c1.d)))
    SELECT best.d AS split_day,
           CAST(n1 AS BIGINT) AS n_before, CAST(n2 AS BIGINT) AS n_after,
           round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0, 4)
             AS mean_before,
           round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0, 4)
             AS mean_after,
           round((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                  - CAST(tot.ss AS DOUBLE) * CAST(tot.ss AS DOUBLE)
                    / CAST(tot.nn AS DOUBLE))
                 / (10000.0 * CAST(tot.nn AS DOUBLE)), 4) AS var_gain
    FROM best, tot
    """,
)
def events_changepoint_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary segmentation over daily value sums: the split
    day t* (segment = days <= t*) maximizing s1²/n1 + s2²/n2 — the exact
    argmax of between-segment variance reduction.

    The argmax is a BOUNDARY decision, so it never touches floats: daily
    sums quantize to integer cents, candidate scores are exact-integer
    fractions num(t)/den(t) (DECIMAL(38,0) / HUGEINT), and t* is the
    candidate no rival beats under exact cross-multiplied comparison
    (num2*den1 > num1*den2 — magnitudes bounded: cent-sums ≤ ~6e9, so
    the 4-term product stays under 1e35 « 1e38).  Only the REPORTED
    means/gain are floats, computed from the exact integers in one fixed
    expression.

    Scale: one daily aggregate (map-side combinable), a ~30-row prefix
    window, and a ~30x30 pairwise argmax — the candidate table is
    calendar-sized, never data-sized; recursing into segments repeats
    the same plan on a filter."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("s_raw"),
        )
        .select("d", dec(F.col("n")).alias("n"), dec(F.col("s_raw")).alias("s"))
    )
    tot = daily.agg(
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
    )
    wp = W.partitionBy(F.lit(0)).orderBy("d")
    pre = daily.select(
        "d",
        F.sum("n").over(wp).cast("decimal(38,0)").alias("n1"),
        F.sum("s").over(wp).cast("decimal(38,0)").alias("s1"),
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter((F.col("n1") > 0) & (F.col("nn") - F.col("n1") > 0))
        .select(
            "d",
            "n1",
            "s1",
            (F.col("nn") - F.col("n1")).alias("n2"),
            (F.col("ss") - F.col("s1")).alias("s2"),
            (
                F.col("s1") * F.col("s1") * (F.col("nn") - F.col("n1"))
                + (F.col("ss") - F.col("s1"))
                * (F.col("ss") - F.col("s1"))
                * F.col("n1")
            ).alias("num"),
            (F.col("n1") * (F.col("nn") - F.col("n1"))).alias("den"),
        )
    )
    rival = cand.select(
        F.col("d").alias("d2"), F.col("num").alias("num2"), F.col("den").alias("den2")
    )
    beats = (F.col("num2") * F.col("den") > F.col("num") * F.col("den2")) | (
        (F.col("num2") * F.col("den") == F.col("num") * F.col("den2"))
        & (F.col("d2") < F.col("d"))
    )
    best = cand.join(F.broadcast(rival), beats, "left_anti")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return best.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("split_day"),
        F.col("n1").cast("long").alias("n_before"),
        F.col("n2").cast("long").alias("n_after"),
        F.round(dbl("s1") / dbl("n1") / 100.0, 4).alias("mean_before"),
        F.round(dbl("s2") / dbl("n2") / 100.0, 4).alias("mean_after"),
        F.round(
            (dbl("num") / dbl("den") - dbl("ss") * dbl("ss") / dbl("nn"))
            / (10000.0 * dbl("nn")),
            4,
        ).alias("var_gain"),
    )
