"""Temporal & window analytics surface — as-of join, range-band join,
running/moving window aggregates, pivot, EXISTS semi-join.

Extensions beyond the reference's operator set (it has no window
functions, pivots, or temporal joins — SURVEY.md §2.6-2.8), expressed
Spark-first with exact-decimal money arithmetic so the DuckDB oracle
comparison is bit-stable (same convention as plans/analytics.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from de_final_project_spark.operators.asof import asof_join_backward
from de_final_project_spark.sources.readers import read_testdata

_DEC = "decimal(12,2)"


def _dec(col: str) -> Column:
    return F.col(col).cast(_DEC)


def customer_order_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-history windows: running total, previous-order
    price (lag), and a 3-order moving sum — one shuffle on o_custkey,
    every frame computed in a single window pass. Decimal arithmetic keeps
    running sums associative and engine-identical."""
    o = read_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    price = _dec("o_totalprice")
    running = F.sum(price).over(w.rowsBetween(Window.unboundedPreceding, 0))
    prev = F.lag(price).over(w)
    mov3 = F.sum(price).over(w.rowsBetween(-2, 0))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        price.cast("double").alias("price"),
        running.cast("double").alias("running_total"),
        prev.cast("double").alias("prev_price"),
        mov3.cast("double").alias("moving_sum3"),
        F.row_number().over(w).alias("order_seq"),
    )


CUSTOMER_ORDER_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(p AS DOUBLE) AS price,
       CAST(sum(p) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total,
       CAST(lag(p) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS DOUBLE) AS prev_price,
       CAST(sum(p) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS moving_sum3,
       CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS INT) AS order_seq
FROM (SELECT *, CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders)
"""


_PRIORITIES = [
    ("1-URGENT", "urgent"),
    ("2-HIGH", "high"),
    ("3-MEDIUM", "medium"),
    ("4-NOT SPECIFIED", "not_specified"),
    ("5-LOW", "low"),
]


def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order counts pivoted by priority (reshape surface: the
    inverse of the dim_date unpivot, SURVEY.md §2.8 O4). The pivot value
    list is declared, so Spark plans a single hash aggregate — no extra
    distinct-values job, one shuffle on the month key."""
    o = read_testdata(spark, sf_dir, "orders")
    piv = (
        o.withColumn("order_month", F.trunc("o_orderdate", "month"))
        .groupBy("order_month")
        .pivot("o_orderpriority", [p for p, _ in _PRIORITIES])
        .count()
    )
    return piv.select(
        "order_month",
        *[
            F.coalesce(F.col(f"`{raw}`"), F.lit(0)).alias(name)
            for raw, name in _PRIORITIES
        ],
    )


ORDERS_PRIORITY_PIVOT_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS low
FROM orders
GROUP BY 1
"""


def late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders with at least one lineitem shipped
    more than 90 days after the order date, counted by priority. The
    existential is a LEFT SEMI hash join on orderkey (the inequality
    rides along as a join residual) — no duplicate-then-distinct, and the
    count aggregate sees each order once."""
    o = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    cond = (o["o_orderkey"] == li["l_orderkey"]) & (
        F.to_date(li["l_shipdate"]) > F.date_add(F.to_date(o["o_orderdate"]), 90)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


LATE_SHIPMENT_ORDERS_SQL = """
SELECT o_orderpriority AS priority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
)
GROUP BY 1
"""


def purchases_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join on the event stream: every purchase event picks up the
    user's most recent view event at-or-before it (operators/asof.py —
    union + ignore-nulls fill, one shuffle on user_id, no row explosion).
    """
    ev = read_testdata(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("value").alias("last_view_value"),
        F.col("ts").alias("last_view_ts"),
        F.col("event_id").alias("_view_id"),
    )
    out = asof_join_backward(
        purchases,
        views,
        keys=["user_id"],
        ts_col="ts",
        payload_cols=["last_view_value", "last_view_ts"],
        tiebreak_col="_view_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 6).alias("purchase_value"),
        F.round("last_view_value", 6).alias("last_view_value"),
        "last_view_ts",
    )


# Oracle uses the same union-and-fill formulation (ANSI window functions;
# the engine's semantics, independently restated in SQL).
PURCHASES_ASOF_VIEW_SQL = """
WITH u AS (
  SELECT event_id, user_id, ts, value, 1 AS side,
         NULL::DOUBLE AS view_value, NULL::TIMESTAMP AS view_ts,
         NULL::BIGINT AS view_id
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT NULL, user_id, ts, NULL, 0, value, ts, event_id
  FROM events WHERE event_type = 'view'
), filled AS (
  SELECT *,
    last_value(view_value IGNORE NULLS) OVER w AS last_view_value,
    last_value(view_ts IGNORE NULLS) OVER w AS last_view_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, view_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts,
       round(value, 6) AS purchase_value,
       round(last_view_value, 6) AS last_view_value,
       last_view_ts
FROM filled WHERE side = 1
"""


_BANDS = [
    ("band_900_905", 900.0, 905.0),
    ("band_905_910", 905.0, 910.0),
    ("band_910_915", 910.0, 915.0),
    ("band_915_920", 915.0, 920.0),
]


def parts_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval containment) join: parts against a price-band
    table on lo <= p_retailprice < hi. The band side is rows-small, so
    the plan is a broadcast nested-loop against 4 rows — effectively a
    map-side banding; at scale the same result is a constant-time
    CASE/bucket expression, which Catalyst would also accept."""
    part = read_testdata(spark, sf_dir, "part")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    cond = (part["p_retailprice"] >= bands["lo"]) & (part["p_retailprice"] < bands["hi"])
    return (
        part.join(F.broadcast(bands), cond, "inner")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("part_count"),
            F.sum(_dec("p_retailprice")).cast("double").alias("sum_retail"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
    )


PARTS_PRICE_BAND_JOIN_SQL = """
SELECT band, count(*) AS part_count,
       CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_retail,
       min(p_size) AS min_size, max(p_size) AS max_size
FROM part
JOIN (VALUES ('band_900_905', 900.0, 905.0),
             ('band_905_910', 905.0, 910.0),
             ('band_910_915', 910.0, 915.0),
             ('band_915_920', 915.0, 920.0)) AS b(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: one minute-grain partial
    aggregate is computed from the raw events, then REUSED to produce the
    hour and day grains — coarser grains aggregate the partial, not the
    raw table. At 100 TB that is the continuous-aggregate shape: the raw
    scan happens once, and each coarser rollup reads rows proportional to
    the finer grain's cardinality. Decimal partial sums keep re-aggregation
    exact and order-insensitive."""
    ev = read_testdata(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
    )
    minute.persist()

    def _coarsen(grain: str) -> DataFrame:
        return (
            minute.groupBy(F.date_trunc(grain, "bucket_start").alias("bucket_start"))
            .agg(F.sum("event_count").alias("event_count"), F.sum("_sum").alias("_sum"))
            .select(F.lit(grain).alias("grain"), "bucket_start", "event_count", "_sum")
        )

    out = _coarsen("hour").unionByName(_coarsen("day"))
    return out.select(
        "grain",
        "bucket_start",
        "event_count",
        F.col("_sum").cast("double").alias("sum_value"),
    )


EVENTS_MULTIRES_ROLLUP_SQL = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket_start,
         count(*) AS event_count,
         sum(CAST(value AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1
)
SELECT 'hour' AS grain, date_trunc('hour', bucket_start) AS bucket_start,
       sum(event_count)::BIGINT AS event_count, CAST(sum(s) AS DOUBLE) AS sum_value
FROM minute GROUP BY 2
UNION ALL
SELECT 'day', date_trunc('day', bucket_start),
       sum(event_count)::BIGINT, CAST(sum(s) AS DOUBLE)
FROM minute GROUP BY 2
"""


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup: 1-hour windows advancing every 30 minutes
    (each event lands in exactly 2 overlapping windows). ``F.window`` with
    a slide plans this as a generate+explode before one hash aggregate —
    shuffle volume is size/slide × rows, the streaming-compatible shape
    (the same expression works under readStream with a watermark)."""
    ev = read_testdata(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_count",
            "sum_value",
        )
    )


EVENTS_SLIDING_WINDOWS_SQL = """
WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS s, value FROM events),
w AS (
  SELECT s AS window_start, value FROM b
  UNION ALL
  SELECT s - INTERVAL 30 MINUTE, value FROM b
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       count(*) AS event_count,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM w GROUP BY 1
"""


def events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous hours per event type: hourly counts scored against the
    trailing 24 observed hours' mean/std (z-score, flagged at |z| >= 2).
    One aggregate shuffle (hourly counts), one window shuffle per type —
    the monitoring primitive a pipeline runs over its own ingest volumes.
    Variance is computed from exact integer window sums with the same
    explicit formula on both engines (builtin stddev implementations
    differ numerically between engines); z rounds to 6 places."""
    ev = read_testdata(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    s = F.sum("n").over(w).cast("double")
    ssq = F.sum(F.col("n") * F.col("n")).over(w).cast("double")
    k = F.count("n").over(w).cast("double")
    mean = s / k
    var = (ssq - s * s / k) / (k - F.lit(1.0))
    z = F.round((F.col("n") - mean) / F.sqrt(var), 6)
    scored = hourly.select(
        "event_type",
        "hour",
        "n",
        k.alias("window_n"),
        F.round(mean, 6).alias("trailing_mean"),
        z.alias("zscore"),
        var.alias("_var"),
    ).where((F.col("window_n") >= 12) & (F.col("_var") > 0))
    return scored.where(F.abs(F.col("zscore")) >= 2.0).drop("_var")


EVENTS_ANOMALIES_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, hour, n,
         CAST(count(n) OVER w AS DOUBLE) AS window_n,
         CAST(sum(n) OVER w AS DOUBLE) AS s,
         CAST(sum(n * n) OVER w AS DOUBLE) AS ssq
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n, window_n,
       round(s / window_n, 6) AS trailing_mean,
       round((n - s / window_n)
             / sqrt((ssq - s * s / window_n) / (window_n - 1.0)), 6) AS zscore
FROM scored
WHERE window_n >= 12
  AND (ssq - s * s / window_n) / (window_n - 1.0) > 0
  AND abs(round((n - s / window_n)
                / sqrt((ssq - s * s / window_n) / (window_n - 1.0)), 6)) >= 2.0
"""


def signup_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per signup cohort week, how many signed-up
    users made any purchase within 7 days of their FIRST signup. Two
    stages: a per-user min-aggregate (first signup), then one join to
    purchases pre-filtered by type — the join keys on user_id, so both
    sides shuffle once on the same key; the cohort rollup is
    cohort-week-sized. The week bucket is date_trunc('week'), Monday
    anchored on both engines."""
    ev = read_testdata(spark, sf_dir, "events")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        signups.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAY")),
            "left_semi",
        )
        .select("user_id")
        .withColumn("_conv", F.lit(1))
    )
    return (
        signups.join(converted, "user_id", "left")
        .groupBy(F.date_trunc("week", "signup_ts").alias("cohort_week"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum(F.coalesce(F.col("_conv"), F.lit(0))).alias("n_converted"),
        )
        .withColumn(
            "conversion_rate",
            F.round(F.col("n_converted") / F.col("n_signups"), 6),
        )
    )


SIGNUP_CONVERSION_FUNNEL_SQL = """
WITH signups AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
), converted AS (
  SELECT DISTINCT s.user_id
  FROM signups s JOIN events p
    ON p.user_id = s.user_id
   AND p.event_type = 'purchase'
   AND p.ts >= s.signup_ts
   AND p.ts <= s.signup_ts + INTERVAL 7 DAY
)
SELECT CAST(date_trunc('week', signup_ts) AS TIMESTAMP) AS cohort_week,
       count(*) AS n_signups,
       sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_converted,
       round(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS conversion_rate
FROM signups s LEFT JOIN converted c USING (user_id)
GROUP BY 1
"""


def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap analysis per customer: days since the previous and
    until the next order (lag/lead), tenure day (vs first_value), and a
    dense priority rank — rounding out the window-function family over
    one hash exchange on o_custkey; all five windows share the same
    partitioning, so Catalyst plans a single sort."""
    o = read_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    d = F.to_date("o_orderdate")
    return o.select(
        "o_custkey",
        "o_orderkey",
        d.alias("order_date"),
        F.datediff(d, F.lag(d).over(w)).alias("days_since_prev"),
        F.datediff(F.lead(d).over(w), d).alias("days_until_next"),
        F.datediff(d, F.first(d).over(w)).alias("tenure_days"),
        F.dense_rank().over(
            Window.partitionBy("o_custkey").orderBy("o_orderpriority")
        ).cast("long").alias("priority_rank"),
    )


ORDER_GAPS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       date_diff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
                 CAST(o_orderdate AS DATE)) AS days_since_prev,
       date_diff('day', CAST(o_orderdate AS DATE),
                 lead(CAST(o_orderdate AS DATE)) OVER w) AS days_until_next,
       date_diff('day', first_value(CAST(o_orderdate AS DATE)) OVER w,
                 CAST(o_orderdate AS DATE)) AS tenure_days,
       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority)
         AS priority_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-signup week, then
    distinct active users counted per (cohort, weeks-since-signup). Two
    shuffles — the per-user min (first signup) and the distinct-count per
    cohort cell; the user-activity join keys on user_id so both sides
    co-partition. The classic growth-analytics table, kept exact
    (count distinct) rather than approximate since cohorts are
    bounded-cardinality."""
    ev = read_testdata(spark, sf_dir, "events")
    cohorts = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        cohorts.join(activity, "user_id")
        .where(F.col("active_week") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("int").alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


WEEKLY_RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
  FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, active_week) / 7 AS INT) AS weeks_since,
       count(DISTINCT user_id) AS n_active
FROM cohorts JOIN activity USING (user_id)
WHERE active_week >= cohort_week
GROUP BY 1, 2
"""


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (the hypertable ``time_bucket_gapfill`` /
    ``locf`` shape): per event_type, a dense hourly grid over the type's
    observed span, empty hours filled with count 0 and the last observed
    hourly average carried forward.

    Plan shape: one hourly pre-aggregate (map-side partial, keyed on a
    low-cardinality composite), a tiny per-type span aggregate whose
    ``sequence()`` explode *generates* the grid — rows proportional to
    span-hours × types, never a scan of the raw table — and one window
    pass per type for the carry-forward. The raw events table is read
    exactly once. The forward fill is ``last(..., ignorenulls=True)``
    over an unbounded-preceding frame: O(1) state per row, no self-join.

    The 6-place rounded average is computed in EXACT integer micro-units
    (half-up on the rational sum/count via ``(2a+b) div 2b``), not with
    ``round(double, 6)``: the sf1 proof caught a bucket whose true
    average lands exactly on a .5 microunit boundary, where Spark
    (BigDecimal HALF_UP on the binary double) and DuckDB (multiply-
    then-std::round) disagree by one microunit. Integer arithmetic is
    bit-identical in every engine; the final /1e6 is an exact-input
    IEEE division both sides perform identically.
    """
    ev = read_testdata(spark, sf_dir, "events")
    # The hourly pre-aggregate feeds THREE consumers (span, grid join,
    # fill); without a persist Catalyst re-derives the subtree per
    # consumer and the raw table is scanned 4× (same blowup the
    # multires rollup pins down). It is bucket-cardinality-sized —
    # persist it and the raw scan happens exactly once.
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
    ).persist()
    span = hourly.groupBy("event_type").agg(
        F.min("hour").alias("_mn"), F.max("hour").alias("_mx")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence("_mn", "_mx", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    with_micros = hourly.withColumn(
        # exact: _sum is a scale-6 decimal, so *1e6 is integral
        "_sum_micros", (F.col("_sum") * 1_000_000).cast("long")
    )
    avg = F.expr("(2 * _sum_micros + _cnt) div (2 * _cnt)") / F.lit(1_000_000.0)
    joined = grid.join(with_micros, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("_cnt"), F.lit(0)).alias("event_count"),
        F.col("_cnt").isNull().alias("is_gap"),
        avg.alias("_avg"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "hour",
        "event_count",
        "is_gap",
        F.last("_avg", ignorenulls=True).over(w).alias("filled_avg"),
    )


EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*)::BIGINT AS _cnt,
         sum(CAST(value AS DECIMAL(18,6))) AS _sum
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(hour) AS _mn, max(hour) AS _mx FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(_mn, _mx, INTERVAL 1 HOUR)) AS hour
  FROM span
)
SELECT g.event_type, g.hour,
       coalesce(h._cnt, 0)::BIGINT AS event_count,
       (h._cnt IS NULL) AS is_gap,
       -- exact integer micro-unit half-up, identical to the engine's
       -- (2a+b) div 2b form: round(DOUBLE, 6) differs between engines
       -- on exact .5-microunit boundaries (sf1 proof finding)
       last_value(((2 * CAST(h._sum * 1000000 AS BIGINT) + h._cnt)
                   // (2 * h._cnt)) / 1000000.0 IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hour = h.hour
"""


def user_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True RANGE-frame window: for every event, the count and sum of the
    SAME user's events in the trailing hour (inclusive) — per-row
    interval framing, not bucketed sliding windows (events_sliding_windows
    covers those; a range frame assigns each row its own window).

    The frame is ordered on MICROSECOND longs derived timezone-free from
    the TIMESTAMP_NTZ column (``timestampdiff`` against a fixed anchor —
    ``unix_micros`` would force an NTZ→TZ cast whose session-timezone
    offset is engine state this query must not depend on), so the Spark
    range bound [-3.6e9, 0] µs and the oracle's ``RANGE BETWEEN INTERVAL
    1 HOUR PRECEDING AND CURRENT ROW`` cover the identical closed
    interval at full timestamp precision. One shuffle on
    user_id; O(1) running state per row (Spark evaluates bounded range
    frames incrementally). Tie rows (equal timestamps) are all inside
    each other's frames, so the result is order-insensitive; sums are
    exact decimal.
    """
    ev = read_testdata(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2000-01-01 00:00:00', ts)")
        )
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("trailing_cnt"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_sum"),
    )


USER_TRAILING_WINDOW_SQL = """
SELECT event_id, user_id, ts,
       count(*) OVER w AS trailing_cnt,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trailing_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: counts and row-
    normalized probabilities of event_type -> next event_type within
    each user's timeline — the Markov-chain summary behavioral
    pipelines train on.

    One window pass (lag over the per-user time order, event_id as the
    deterministic tie-break) then a 25-cell hash aggregate; the
    normalizing row total is a second tiny aggregate broadcast back.
    Probability = count/total divides as doubles from exact BIGINTs.
    """
    ev = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy(F.col("from_type").alias("t_from")).agg(
        F.sum("n_transitions").alias("_row_total")
    )
    return (
        counts.join(F.broadcast(totals), counts["from_type"] == totals["t_from"])
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double") / F.col("_row_total").cast("double"),
                6,
            ).alias("p_transition"),
        )
    )


EVENT_TRANSITION_MATRIX_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       round(n_transitions::DOUBLE
             / sum(n_transitions) OVER (PARTITION BY from_type), 6)
         AS p_transition
FROM counts
"""


def user_value_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change stream: each
    user's purchase events become versioned validity intervals
    [valid_from, valid_to) with an is_current flag — the SCD2 shape a
    warehouse derives from CDC feeds, built here from the events table's
    purchase stream.

    One window pass per user (lead for the closing timestamp, row_number
    for the version ordinal; event_id breaks timestamp ties so versions
    are total-ordered); the open interval's valid_to is NULL. No joins,
    one shuffle on the business key.
    """
    ev = read_testdata(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.round("value", 6).alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


USER_VALUE_SCD2_SQL = """
SELECT user_id,
       row_number() OVER w AS version,
       round(value, 6) AS value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _scd2_build(ev: DataFrame) -> DataFrame:
    """The full SCD2 build over a purchase-event frame (the body of
    user_value_scd2, reusable for incremental maintenance)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.round("value", 6).alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def scd2_apply(current: DataFrame, changes: DataFrame) -> DataFrame:
    """Incremental SCD2 maintenance: fold a NEW batch of change events
    into an existing SCD2 table without rebuilding history.

    ``current``: (user_id, version, value, valid_from, valid_to,
    is_current); ``changes``: raw events strictly LATER (by ts) than
    everything in ``current`` — the standard CDC-batch contract.

    Three constant-depth steps, all keyed on the business key:
    1. version the batch internally (one window over the BATCH, not the
       history) and continue numbering from each key's current max —
       an aggregate join, not a rescan of history;
    2. close each touched key's open interval at the batch's first
       timestamp for that key;
    3. union: untouched history + closed rows + new versions.
    Cost is O(batch + touched keys); history is never re-sorted — the
    property that makes SCD2 maintainable at warehouse scale. The
    invariant (pinned by the oracle) is exact equality with the
    full rebuild."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    base_ver = current.groupBy("user_id").agg(
        F.max("version").alias("_base_ver")
    )
    new_rows = (
        changes.select(
            "user_id",
            F.row_number().over(w).cast("long").alias("_rel"),
            F.round("value", 6).alias("value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .join(base_ver, "user_id", "left")
        .select(
            "user_id",
            (F.col("_rel") + F.coalesce("_base_ver", F.lit(0))).alias("version"),
            "value",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
    firsts = changes.groupBy("user_id").agg(F.min("ts").alias("_first_ts"))
    open_rows = current.where(F.col("is_current"))
    closed_now = open_rows.join(firsts, "user_id").select(
        "user_id",
        "version",
        "value",
        "valid_from",
        F.col("_first_ts").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    untouched_open = open_rows.join(firsts, "user_id", "left_anti")
    return (
        current.where(~F.col("is_current"))
        .unionByName(closed_now)
        .unionByName(untouched_open)
        .unionByName(new_rows)
    )


def user_value_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable incremental SCD2: full-build the dimension from
    the EARLY half of the purchase stream (ts-median cut, so equal
    timestamps never straddle the batch boundary), then scd2_apply the
    late half as a CDC batch. The oracle is the FULL REBUILD over the
    whole stream — exact hash equality is the statement that
    incremental maintenance converges to the rebuild, key's version
    numbering, interval closing, and is_current flips included."""
    from de_final_project_spark.sources.readers import read_testdata

    ev = read_testdata(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)").alias("c")).first()["c"]
    base = _scd2_build(ev.where(F.col("ts") <= F.lit(cut)))
    late = ev.where(F.col("ts") > F.lit(cut))
    return scd2_apply(base, late)


def scd2_from_change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable CDC loop closure (VERDICT r7 item 3): the SCD2
    dimension maintained from a VersionedTable's STREAMED change feed
    instead of a hand-delivered batch. The purchase stream lands in a
    transaction-log table as three commits (base overwrite + two
    ts-ordered MERGE batches); each later commit's change feed
    (``read_changes(v-1, v)``) is then one micro-batch, and scd2_apply
    folds its inserts into the dimension — snapshot bootstrap at v1,
    per-version incremental maintenance after, each folded state
    localCheckpoint-ed so the loop lineage stays flat. The oracle is
    the FULL REBUILD over the whole stream (USER_VALUE_SCD2_SQL): exact
    equality says the composed path — log commits, partition-pruned
    CDC reads, incremental fold — converges to the rebuild. Batches are
    cut at ts percentiles with <=/> bounds, so equal timestamps never
    straddle a batch (the scd2_apply contract)."""
    import os

    from de_final_project_spark.operators.txlog import (
        EmptyChangeFeed,
        VersionedTable,
    )
    from de_final_project_spark.session import scratch_dir

    ev = (
        read_testdata(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            (F.col("user_id") % 4).alias("pbucket"),
        )
    )
    cuts = ev.agg(
        F.expr("percentile_approx(ts, 0.5)").alias("c1"),
        F.expr("percentile_approx(ts, 0.75)").alias("c2"),
    ).first()
    c1, c2 = cuts["c1"], cuts["c2"]
    root = scratch_dir("scd2_change_stream")
    table = VersionedTable(
        os.path.join(root, "purchases"), partition_col="pbucket"
    )
    table.overwrite(ev.where(F.col("ts") <= F.lit(c1)))
    table.merge(
        spark,
        ev.where((F.col("ts") > F.lit(c1)) & (F.col("ts") <= F.lit(c2))),
        ["event_id"],
        txn=("purchase-loader", 1),
    )
    table.merge(
        spark, ev.where(F.col("ts") > F.lit(c2)), ["event_id"],
        txn=("purchase-loader", 2),
    )
    scd2 = _scd2_build(table.read(spark, version=1))
    for v in range(2, table.latest_version() + 1):
        try:
            batch = table.read_changes(
                spark, ["event_id"], v - 1, v, include_deletes=True
            )
        except EmptyChangeFeed:
            continue  # no live pointer changed: nothing to fold
        inserts = batch.where(F.col("_change_type") == "insert").select(
            "event_id", "user_id", "ts", "value"
        )
        scd2 = scd2_apply(scd2, inserts).localCheckpoint()
    return scd2


# The streamed fold's oracle IS the batch rebuild — equality is the
# maintenance invariant, same contract as user_value_scd2_incremental.
SCD2_FROM_CHANGE_STREAM_SQL = USER_VALUE_SCD2_SQL


def order_fulfillment_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact: one row per order carrying its
    fulfillment milestones — first/last ship date, line counts, the
    late-line fraction (>30 days after order), and full-shipment lag.
    The warehouse pattern for process-tracking facts (order-to-ship
    funnels), folded in ONE pass: every milestone is a conditional
    aggregate over the order's lines, so the plan is a single
    orderkey-shuffle hash aggregate joined back to orders (broadcast
    preserved for the date columns only via the same join key).
    """
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    li = read_testdata(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    late = (
        F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 30)
    ).cast("long")
    return (
        lo.groupBy(
            F.col("o_orderkey").alias("order_key"),
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_orderstatus").alias("order_status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min(F.to_date("l_shipdate")).alias("first_ship_date"),
            F.max(F.to_date("l_shipdate")).alias("last_ship_date"),
            F.sum(late).alias("n_late_lines"),
        )
        .withColumn(
            "late_fraction",
            F.round(F.col("n_late_lines").cast("double") / F.col("n_lines"), 6),
        )
        .withColumn(
            "days_to_complete",
            F.datediff(F.col("last_ship_date"), F.col("order_date")).cast("long"),
        )
    )


ORDER_FULFILLMENT_SNAPSHOT_SQL = """
SELECT l_orderkey AS order_key,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderstatus AS order_status,
       count(*)::BIGINT AS n_lines,
       min(CAST(l_shipdate AS DATE)) AS first_ship_date,
       max(CAST(l_shipdate AS DATE)) AS last_ship_date,
       sum((CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)::INT)::BIGINT
         AS n_late_lines,
       round(sum((CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)::INT)::DOUBLE
             / count(*), 6) AS late_fraction,
       datediff('day', CAST(o_orderdate AS DATE), max(CAST(l_shipdate AS DATE)))::BIGINT
         AS days_to_complete
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2, 3
"""


def customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, order revenue accumulated by months-since-acquisition — the
    (cohort × age) LTV grid every subscription/commerce warehouse
    reports. Complements weekly_retention (presence counts) with exact
    revenue mass.

    Two shuffles: the per-customer min-date aggregate (broadcast back —
    customer-cardinality), then the (cohort, age) hash aggregate.
    Revenue is exact decimal; the running cumulative across ages is a
    window over the tiny matrix, not the fact table.
    """
    o = read_testdata(spark, sf_dir, "orders")
    first = o.groupBy(F.col("o_custkey").alias("f_cust")).agg(
        F.min(F.trunc("o_orderdate", "month")).alias("cohort_month")
    )
    aged = o.join(first, o["o_custkey"] == first["f_cust"]).select(
        "cohort_month",
        (
            F.months_between(
                F.trunc("o_orderdate", "month"), F.col("cohort_month")
            ).cast("long")
        ).alias("months_since"),
        _dec("o_totalprice").alias("_rev"),
    )
    cohort_sizes = first.groupBy("cohort_month").agg(
        F.countDistinct("f_cust").alias("cohort_customers")
    )
    cell = aged.groupBy("cohort_month", "months_since").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("_rev").alias("_rev_sum")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.join(F.broadcast(cohort_sizes), "cohort_month")
        .select(
            "cohort_month",
            "months_since",
            "cohort_customers",
            "n_orders",
            F.col("_rev_sum").cast("double").alias("revenue"),
            F.round(
                F.sum("_rev_sum").over(w).cast("double")
                / F.col("cohort_customers").cast("double"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
    )


CUSTOMER_LTV_COHORT_SQL = """
WITH first AS (
  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort_month
  FROM orders GROUP BY 1
), sizes AS (
  SELECT cohort_month, count(DISTINCT o_custkey)::BIGINT AS cohort_customers
  FROM first GROUP BY 1
), cell AS (
  SELECT f.cohort_month,
         datediff('month', f.cohort_month,
                  date_trunc('month', o.o_orderdate))::BIGINT AS months_since,
         count(*)::BIGINT AS n_orders,
         sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS _rev_sum
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT c.cohort_month, c.months_since, s.cohort_customers, c.n_orders,
       CAST(c._rev_sum AS DOUBLE) AS revenue,
       round(CAST(sum(c._rev_sum) OVER (PARTITION BY c.cohort_month
                                        ORDER BY c.months_since
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / s.cohort_customers, 6) AS cum_ltv_per_customer
FROM cell c JOIN sizes s ON c.cohort_month = s.cohort_month
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    against the corpus max date so the result is reproducible), frequency
    (order count), monetary (exact-decimal revenue), each cut into
    quartiles via ntile with fully deterministic orderings (metric, then
    custkey), concatenated into the familiar '432'-style segment code.

    One per-customer aggregate, then three DISTRIBUTED rank passes
    (operators/surrogate.add_global_rank_distributed: range-partition on
    the metric ordering, local row_number, broadcast O(partitions)
    offsets) with ntile(4) recovered in closed form from (rank, n) —
    bit-identical to the window ntile because the custkey tie-break
    makes each ordering total, but with no single-partition sort at any
    customer cardinality. Plus a 1-row max-date broadcast.
    """
    from de_final_project_spark.operators.surrogate import (
        add_global_rank_distributed,
        ntile_from_rank,
    )
    o = read_testdata(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.max(F.to_date("o_orderdate")).alias("_last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_dec("o_totalprice")).alias("_monetary"),
    )
    maxdate = o.agg(F.max(F.to_date("o_orderdate")).alias("_corpus_max"))
    base = per_cust.crossJoin(F.broadcast(maxdate)).select(
        "cust_key",
        F.datediff(F.col("_corpus_max"), F.col("_last_order"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        F.col("_monetary").cast("double").alias("monetary"),
    )
    orderings = {
        "r_quartile": [F.col("recency_days").asc(), F.col("cust_key").asc()],
        "f_quartile": [F.col("frequency").desc(), F.col("cust_key").asc()],
        "m_quartile": [F.col("monetary").desc(), F.col("cust_key").asc()],
    }
    out = base
    for name, order in orderings.items():
        keep = out.columns
        ranked = add_global_rank_distributed(out, order)
        out = ranked.select(
            *keep,
            ntile_from_rank(F.col("_grank"), F.col("_gn"), 4)
            .cast("long")
            .alias(name),
        )
    return out.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_quartile"), F.col("f_quartile"), F.col("m_quartile")
        ),
    )


CUSTOMER_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS cust_key,
         max(CAST(o_orderdate AS DATE)) AS _last_order,
         count(*)::BIGINT AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS _monetary
  FROM orders GROUP BY 1
), mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS _corpus_max FROM orders),
base AS (
  SELECT cust_key,
         datediff('day', _last_order, _corpus_max)::BIGINT AS recency_days,
         frequency,
         CAST(_monetary AS DOUBLE) AS monetary
  FROM per_cust CROSS JOIN mx
)
SELECT cust_key, recency_days, frequency, monetary,
       ntile(4) OVER (ORDER BY recency_days ASC, cust_key ASC)::BIGINT AS r_quartile,
       ntile(4) OVER (ORDER BY frequency DESC, cust_key ASC)::BIGINT AS f_quartile,
       ntile(4) OVER (ORDER BY monetary DESC, cust_key ASC)::BIGINT AS m_quartile,
       ntile(4) OVER (ORDER BY recency_days ASC, cust_key ASC)::VARCHAR
       || ntile(4) OVER (ORDER BY frequency DESC, cust_key ASC)::VARCHAR
       || ntile(4) OVER (ORDER BY monetary DESC, cust_key ASC)::VARCHAR AS segment
FROM base
"""


EWMA_W = 16  # trailing row frame; weights 2^-k are exact in int64
EWMA_SCALE = 64  # power of two: value*64 is exact in doubles


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event value
    (alpha = 1/2, adjust-normalized, trailing EWMA_W rows) — the
    feature-engineering staple for behavioral trends, in a form both
    engines compute BIT-IDENTICALLY: alpha = 1/2 makes every weight a
    power of two, values quantize by floor(x*64), so numerator
    (sum of q_i << i over the ordered frame) and denominator (2^m - 1)
    are exact int64 and the EWMA is ONE IEEE division — the same
    fixed-point discipline as k-means/PageRank/the quantile sketch. The
    frame list is collected in frame order (oldest first) on both
    engines, so the indexed weights agree by construction.

    One shuffle on user_id; the frame is 16 longs per row — bounded
    state, no sort beyond the window's. Reference analog: none
    (extension surface, time-series ops)."""
    ev = read_testdata(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_W - 1), 0)
    )
    qs = F.collect_list(
        F.floor(F.col("value") * EWMA_SCALE).cast("long")
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        qs.alias("_qs"),
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.expr(
            "CAST(aggregate(transform(_qs, (x, i) -> "
            "              x * shiftleft(CAST(1 AS BIGINT), i)), "
            "          CAST(0 AS BIGINT), (a, b) -> a + b) AS DOUBLE) "
            f"/ CAST((shiftleft(CAST(1 AS BIGINT), size(_qs)) - 1) "
            f"       * {EWMA_SCALE} AS DOUBLE)"
        ).alias("ewma"),
    )


USER_VALUE_EWMA_SQL = f"""
WITH framed AS (
  SELECT event_id, user_id, ts,
         list(CAST(floor(value * {EWMA_SCALE}) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {EWMA_W - 1} PRECEDING AND CURRENT ROW)
           AS qs
  FROM events
)
SELECT event_id, user_id, ts,
       list_sum(list_transform(qs,
                  (x, i) -> x * (CAST(1 AS BIGINT) << (i - 1))))::DOUBLE
       / (((CAST(1 AS BIGINT) << len(qs)) - 1) * {EWMA_SCALE})::DOUBLE
         AS ewma
FROM framed
"""
