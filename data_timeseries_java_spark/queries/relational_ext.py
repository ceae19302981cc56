"""Extended relational surface: cube/grouping-sets, pivot, outer joins,
subqueries, date functions, percentiles, conditional aggregation.

These are capabilities the reference lacks entirely (SURVEY.md §2.7) but
a general engine must expose; each is a thin declarative plan with a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_timeseries_java_spark.tables import load_table

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 # rounded-sum / count — see q_moving_avg_range note
                 F.round(F.round(F.sum("o_totalprice"), 2) / F.count(F.lit(1)), 6)
                  .alias("avg_price"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n", "avg_price"))


def q_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order priorities into columns per status (explicit value
    list — never inferred at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    p = (orders.groupBy("o_orderstatus")
         .pivot("o_orderpriority", PRIORITIES)
         .agg(F.count(F.lit(1))))
    cols = [F.col("o_orderstatus").alias("status")]
    for pr in PRIORITIES:
        cols.append(F.coalesce(F.col(f"`{pr}`"), F.lit(0)).cast("long")
                    .alias("n_" + pr.split("-")[0]))
    return p.select(*cols)


def q_nation_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-producing side + null-safe output."""
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    per_nation = supplier.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"))
    return (nation.join(per_nation,
                        nation.n_nationkey == per_nation.s_nationkey, "left")
            .select("n_name",
                    F.coalesce("n_suppliers", F.lit(0)).cast("long").alias("n_suppliers")))


def q_orders_with_expensive_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join via EXISTS-style predicate (orders having any lineitem
    above a price threshold)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    expensive = li.where(F.col("l_extendedprice") > 80000).select("l_orderkey").distinct()
    return (orders.join(expensive, orders.o_orderkey == expensive.l_orderkey, "left_semi")
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("total")))


def q_monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: truncation + extraction + conditional aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .groupBy(F.year("o_orderdate").cast("long").alias("yr"),
                     F.month("o_orderdate").cast("long").alias("mo"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
                  .cast("long").alias("n_filled"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"),
                 F.unix_millis(F.date_trunc("month", F.min("o_orderdate")))
                  .alias("month_start_ms")))


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment."""
    customer = load_table(spark, sf_dir, "customer")
    return (customer.groupBy("c_mktsegment")
            .agg(F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(c_acctbal, 0.9)"), 6).alias("p90"),
                 F.count(F.lit(1)).alias("n")))


def q_lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: per-flag, per-status, and grand total in one agg."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


def q_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate pattern: each supplier's share of total
    revenue (scalar subquery -> broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    total = per_supp.agg(F.sum("rev").alias("total_rev"))
    return (per_supp.crossJoin(F.broadcast(total))
            .select(F.col("l_suppkey").alias("suppkey"),
                    F.round("rev", 2).alias("revenue"),
                    F.round(F.col("rev") / F.col("total_rev"), 6).alias("share")))


QUERIES = {
    "status_cube": q_status_cube,
    "priority_pivot": q_priority_pivot,
    "nation_outer_join": q_nation_outer_join,
    "orders_with_expensive_items": q_orders_with_expensive_items,
    "monthly_order_stats": q_monthly_order_stats,
    "price_quantiles": q_price_quantiles,
    "lineitem_grouping_sets": q_lineitem_grouping_sets,
    "supplier_share": q_supplier_share,
}

_PIVOT_COLS = ",\n       ".join(
    f"CAST(count(*) FILTER (o_orderpriority = '{p}') AS BIGINT) AS n_{p.split('-')[0]}"
    for p in PRIORITIES)

ORACLE = {
    "status_cube": """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       round(round(sum(o_totalprice), 2) / count(*), 6) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "priority_pivot": f"""
SELECT o_orderstatus AS status,
       {_PIVOT_COLS}
FROM orders
GROUP BY o_orderstatus
""",
    "nation_outer_join": """
SELECT n_name, CAST(coalesce(s.n_suppliers, 0) AS BIGINT) AS n_suppliers
FROM nation
LEFT JOIN (SELECT s_nationkey, count(*) AS n_suppliers
           FROM supplier GROUP BY s_nationkey) s
  ON n_nationkey = s.s_nationkey
""",
    "orders_with_expensive_items": """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_extendedprice > 80000)
""",
    "monthly_order_stats": """
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       count(*) AS n_orders,
       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
       round(sum(o_totalprice), 2) AS total,
       epoch_ms(date_trunc('month', min(o_orderdate))) AS month_start_ms
FROM orders
GROUP BY year(o_orderdate), month(o_orderdate)
""",
    "price_quantiles": """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.5), 6) AS p50,
       round(quantile_cont(c_acctbal, 0.9), 6) AS p90,
       count(*) AS n
FROM customer
GROUP BY c_mktsegment
""",
    "lineitem_grouping_sets": """
SELECT coalesce(l_returnflag, 'ALL') AS flag,
       coalesce(l_linestatus, 'ALL') AS status,
       count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    "supplier_share": """
WITH per_supp AS (
  SELECT l_suppkey AS suppkey,
         sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem GROUP BY l_suppkey
)
SELECT suppkey, round(rev, 2) AS revenue,
       round(rev / (SELECT sum(rev) FROM per_supp), 6) AS share
FROM per_supp
""",
}


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column functions: extract a field from the events `props`
    JSON payload and aggregate it."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max"),
                 # integer sum / count is exact; round once at output
                 F.round(F.sum("k") / F.count(F.lit(1)), 6).alias("k_avg")))


QUERIES["events_json_props"] = q_events_json_props

ORACLE["events_json_props"] = """
SELECT event_type,
       count(*) AS n,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / count(*), 6) AS k_avg
FROM events
GROUP BY event_type
"""


def q_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event type, trailing 1-hour moving average
    over event time (time-range frame, not row counts)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type")
         .orderBy(F.unix_seconds(F.col("ts")))
         .rangeBetween(-3600, 0))
    # avg = rounded-sum / count: summing 2-decimal data then averaging by
    # counts with only 2/5 prime factors lands EXACTLY on round-6
    # boundaries, where cross-engine summation order flips the digit
    # (observed at sf0.1). round(sum,2) is boundary-free (true sums are
    # exact 2-decimal), and dividing identical doubles is deterministic.
    s = F.round(F.sum("value").over(w), 2)
    n = F.count(F.lit(1)).over(w)
    # floor-to-microunits instead of round: s/n frequently terminates
    # EXACTLY at the 1e-6 half-grid (2-decimal sums over power-of-two
    # counts), and Spark (BigDecimal-exact) vs DuckDB (multiply-then-
    # round) disagree on the same boundary double; floor of the identical
    # double is engine-independent.
    return ev.select(
        "event_id", "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(s / n * 1_000_000).cast("long").alias("avg_1h_micros"),
        n.alias("n_1h"),
    )


def q_window_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sampler: lag/lead/first/last/ntile per customer
    order history (deterministic ordering)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.first("o_orderkey").over(wf).alias("first_order"),
        F.last("o_orderkey").over(wf).alias("last_order"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_above_segment_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery shape: customers above their segment's
    average balance (expressed as a broadcast join against the per-segment
    aggregate — the plan Catalyst decorrelates to anyway)."""
    customer = load_table(spark, sf_dir, "customer")
    seg_avg = customer.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("seg_avg"))
    return (customer.join(F.broadcast(seg_avg), "c_mktsegment")
            .where(F.col("c_acctbal") > F.col("seg_avg"))
            .select("c_custkey", "c_mktsegment",
                    F.round("c_acctbal", 2).alias("acctbal"),
                    F.round("seg_avg", 6).alias("segment_avg")))


def q_orders_flag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-EXISTS shape (TPC-H q21 flavor): orders with at least one
    returnflag='A' item and no returnflag='R' item (semi + anti join)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    has_a = li.where(F.col("l_returnflag") == "A").select("l_orderkey").distinct()
    has_r = li.where(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    return (orders
            .join(has_a, orders.o_orderkey == has_a.l_orderkey, "left_semi")
            .join(has_r, orders.o_orderkey == has_r.l_orderkey, "left_anti")
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("total")))


QUERIES["moving_avg_range"] = q_moving_avg_range
QUERIES["window_sampler"] = q_window_sampler
QUERIES["above_segment_avg"] = q_above_segment_avg
QUERIES["orders_flag_filter"] = q_orders_flag_filter

ORACLE["moving_avg_range"] = """
SELECT event_id, event_type,
       epoch_ms(ts) AS ts_ms,
       CAST(floor(round(sum(value) OVER w, 2) / (count(*) OVER w) * 1000000)
            AS BIGINT) AS avg_1h_micros,
       count(*) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ms(ts) // 1000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

ORACLE["window_sampler"] = """
SELECT o_custkey, o_orderkey,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       round(lead(o_totalprice) OVER w, 2) AS next_price,
       first_value(o_orderkey) OVER wf AS first_order,
       last_value(o_orderkey) OVER wf AS last_order,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

ORACLE["above_segment_avg"] = """
SELECT c_custkey, c_mktsegment,
       round(c_acctbal, 2) AS acctbal,
       round(seg_avg, 6) AS segment_avg
FROM customer
JOIN (SELECT c_mktsegment AS seg, avg(c_acctbal) AS seg_avg
      FROM customer GROUP BY c_mktsegment) s
  ON c_mktsegment = s.seg
WHERE c_acctbal > seg_avg
"""

ORACLE["orders_flag_filter"] = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'A')
  AND NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
"""


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: events whose value is > 3 sigma from their
    type's mean (z-score over the full history — the batch form; the
    streaming form uses the same expressions per window)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma"))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (ev.join(F.broadcast(stats), "event_type")
            .where(F.abs(z) > 3)
            .select("event_id", "event_type", "value",
                    F.round(z, 6).alias("z_score")))


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column null count, distinct count, min/max —
    the corpus-health snapshot a pipeline runs before training builds."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount"]
    parts = []
    for c in cols:
        parts.append(li.agg(
            F.lit(c).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.round(F.min(c).cast("double"), 6).alias("min_val"),
            F.round(F.max(c).cast("double"), 6).alias("max_val"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["event_anomalies"] = q_event_anomalies
QUERIES["profile_lineitem"] = q_profile_lineitem

ORACLE["event_anomalies"] = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       round((value - mu) / sigma, 6) AS z_score
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((value - mu) / sigma) > 3
"""

_PROFILE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount"]
ORACLE["profile_lineitem"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       round(CAST(min({c}) AS DOUBLE), 6) AS min_val,
       round(CAST(max({c}) AS DOUBLE), 6) AS max_val
FROM lineitem"""
    for c in _PROFILE_COLS)


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior (or
    simultaneous) click — point-in-time lookup, the canonical
    time-series join. Implemented as union + last-value window (one
    shuffle on user, linear per key; see operators/temporal.py)."""
    from data_timeseries_java_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    j = asof_join(purchases, clicks, on="user_id",
                  left_time="ts", right_time="ts")
    return j.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
        F.col("value_asof").alias("last_click_value"),
        F.unix_millis("ts_asof").alias("last_click_ts_ms"),
    )


def q_range_join_event_candle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: each event matched to its containing hourly candle
    (same type). Spark side uses the grid-arithmetic equality rewrite;
    the oracle uses a true BETWEEN join — proving the rewrite."""
    from data_timeseries_java_spark.operators.candles import ohlc_candles
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    candles = ohlc_candles(ticks, "1 hour").select(
        "key", F.unix_millis("window_start").alias("w_start_ms"),
        F.col("close.ask").alias("close_price"))
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id", F.col("event_type").alias("key"), "value",
        (F.floor(F.unix_millis("ts") / 3_600_000) * 3_600_000)
        .cast("long").alias("w_start_ms"),
    )
    return (keyed.join(candles, ["key", "w_start_ms"])
            .select("event_id", "key", "w_start_ms", "value", "close_price"))


QUERIES["asof_purchase_click"] = q_asof_purchase_click
QUERIES["range_join_event_candle"] = q_range_join_event_candle

ORACLE["asof_purchase_click"] = """
SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, p.value,
       c.value AS last_click_value,
       epoch_ms(c.ts) AS last_click_ts_ms
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

ORACLE["range_join_event_candle"] = """
WITH candles AS (
  SELECT event_type AS key,
         (epoch_ms(ts) // 3600000) * 3600000 AS w_start_ms,
         arg_max(value, ts) AS close_price
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type AS key, c.w_start_ms, e.value, c.close_price
FROM events e JOIN candles c
  ON e.event_type = c.key
 AND epoch_ms(e.ts) BETWEEN c.w_start_ms AND c.w_start_ms + 3599999
"""


# ---- MERGE upsert: corrections batch replaces matching event rows ----


def q_merge_corrections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (last-writer-wins upsert): a deterministic
    corrections frame (every 10th event, value bumped by 1000, flagged)
    replaces matching rows of the events table by event_id; all other
    rows pass through. One anti-join + union — the plain-parquet
    equivalent of Delta/Iceberg MERGE INTO (operators/merge.py)."""
    from data_timeseries_java_spark.operators.merge import merge_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("value").alias("value"),
        F.lit(False).alias("corrected"))
    corrections = (ev.where(F.col("event_id") % 10 == 0)
                   .select("event_id", "user_id", "event_type",
                           (F.col("value") + 1000.0).alias("value"),
                           F.lit(True).alias("corrected")))
    merged = merge_upsert(ev, corrections, ["event_id"])
    return merged.select("event_id", "user_id", "event_type",
                         F.round("value", 6).alias("value"), "corrected")


QUERIES["merge_corrections"] = q_merge_corrections

ORACLE["merge_corrections"] = """
SELECT event_id, user_id, event_type,
       round(value + 1000.0, 6) AS value, TRUE AS corrected
FROM events WHERE event_id % 10 = 0
UNION ALL
SELECT event_id, user_id, event_type, round(value, 6) AS value,
       FALSE AS corrected
FROM events WHERE event_id % 10 <> 0
"""


# ---- funnel analysis: ordered event-sequence conversion over events ----


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase per user: a click counts
    only after the user's first view, a purchase only after that first
    qualifying click. Sequential dependency = chained conditional-min
    aggregations with broadcast joins back onto the event scan (filters
    push to the scan; each stage frame is user-count-sized)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("t_ms"))
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("t_ms").alias("t_view")))
    c = (ev.where(F.col("event_type") == "click")
         .join(F.broadcast(v), "user_id")
         .where(F.col("t_ms") > F.col("t_view"))
         .groupBy("user_id").agg(F.min("t_ms").alias("t_click")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(F.broadcast(c), "user_id")
         .where(F.col("t_ms") > F.col("t_click"))
         .groupBy("user_id").agg(F.min("t_ms").alias("t_purchase")))
    stages = [("1_view", v), ("2_click_after_view", c),
              ("3_purchase_after_click", p)]
    out = None
    for name, df in stages:
        row = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users")
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["funnel_conversion"] = q_funnel_conversion

ORACLE["funnel_conversion"] = """
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) AS t_ms FROM events
),
v AS (SELECT user_id, min(t_ms) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.t_ms) AS t_click
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.t_ms > v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.t_ms) AS t_purchase
      FROM ev e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.t_ms > c.t_click
      GROUP BY e.user_id)
SELECT '1_view' AS stage, count(*) AS n_users FROM v
UNION ALL
SELECT '2_click_after_view', count(*) FROM c
UNION ALL
SELECT '3_purchase_after_click', count(*) FROM p
"""


# ---- SCD2 dimension build from the event log ---------------------------


def q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension over the event log: one
    versioned row per run of consecutive equal event_type values per
    user — see operators.temporal.scd2_build."""
    from data_timeseries_java_spark.operators.temporal import scd2_build

    ev = load_table(spark, sf_dir, "events")
    d = scd2_build(ev, key_col="user_id", attr_col="event_type",
                   time_col="ts", tiebreak_col="event_id")
    return d.select(
        "user_id", "version",
        F.col("event_type").alias("status"),
        F.unix_millis("valid_from").alias("valid_from_ms"),
        F.unix_millis("valid_to").alias("valid_to_ms"),
        "is_current", "n_events",
    )


QUERIES["scd2_user_status"] = q_scd2_user_status

ORACLE["scd2_user_status"] = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grouped AS (
  SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM marked
),
runs AS (
  SELECT user_id, grp, min(event_type) AS status,
         min(ts) AS valid_from, count(*) AS n_events
  FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       CAST(grp AS INTEGER) AS version,
       status,
       epoch_ms(valid_from) AS valid_from_ms,
       epoch_ms(lead(valid_from) OVER w2) AS valid_to_ms,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_events
FROM runs
WINDOW w2 AS (PARTITION BY user_id ORDER BY grp)
"""


# ---- exact rolling median ----------------------------------------------

MED_N = 5


def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-5 median of event values per type (robust smoother
    the approx-percentile sketch can't provide) — see
    operators.resample.rolling_median."""
    from data_timeseries_java_spark.operators.resample import rolling_median

    ev = load_table(spark, sf_dir, "events")
    m = rolling_median(ev, key_col="event_type", time_col="ts",
                       value_col="value", n=MED_N, tiebreak_col="event_id")
    return m.select(
        "event_type", "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value", F.col(f"median_{MED_N}").alias("med"),
    )


QUERIES["moving_median"] = q_moving_median

ORACLE["moving_median"] = f"""
SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value,
       median(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN {MED_N - 1} PRECEDING AND CURRENT ROW) AS med
FROM events
"""


# ---- customer spend quartiles (ntile / cume_dist / percent_rank) ---------


def q_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions over per-customer spend:
    quartile (ntile), cumulative distribution, percent rank. Ordering is
    made deterministic with the key as tiebreak so both engines agree
    exactly.

    Scale note: an unpartitioned ranking window is inherently a total
    order (one reducer). It runs on the AGGREGATED per-customer frame —
    orders shrink by |orders|/|customers| first — which is the only
    shape where a global ntile is acceptable at 100 TB."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend"))
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    return spend.select(
        F.col("o_custkey").alias("custkey"),
        "spend",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


QUERIES["customer_spend_quartiles"] = q_customer_spend_quartiles

ORACLE["customer_spend_quartiles"] = """
WITH spend AS (
  SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT custkey, spend,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(cume_dist() OVER w, 6) AS cume,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM spend
WINDOW w AS (ORDER BY spend DESC, custkey ASC)
"""


# ---- per-user inter-event gap statistics ---------------------------------


def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap distribution (lag window + exact
    median): the sessionization-threshold tuning report. One shuffle on
    user_id shared by the window pass and the aggregation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)))
    gaps = ev.select("user_id", gap.alias("gap_ms")).where(
        F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.avg("gap_ms"), 6).alias("avg_gap_ms"),
        F.round(F.expr("percentile(gap_ms, 0.5)"), 6).alias("median_gap_ms"),
        F.max("gap_ms").cast("long").alias("max_gap_ms"),
    )


QUERIES["event_gap_stats"] = q_event_gap_stats

ORACLE["event_gap_stats"] = """
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_ms
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(avg(gap_ms), 6) AS avg_gap_ms,
       round(quantile_cont(gap_ms, 0.5), 6) AS median_gap_ms,
       CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
FROM gaps
WHERE gap_ms IS NOT NULL
GROUP BY user_id
"""


# ---- cohort retention: acquisition-month cohorts over orders ----


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: customers grouped by first-order month
    (the acquisition cohort), tracked by how many distinct customers
    order again N months later. Month arithmetic is integer
    (year*12 + month) on both engines so no calendar-function semantics
    can diverge. Cohort sizes come from a broadcast of the per-customer
    first-month frame (customer-count-sized); the retention fraction is
    floor-rounded at 1e-6 per the engine's oracle contract."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .alias("ym"))
    first = orders.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sizes = (first.groupBy("cohort_ym")
             .agg(F.count_distinct("o_custkey").alias("cohort_size")))
    ret = (orders.join(F.broadcast(first), "o_custkey")
           .groupBy("cohort_ym",
                    (F.col("ym") - F.col("cohort_ym")).alias("months_since"))
           .agg(F.count_distinct("o_custkey").alias("n_customers")))
    return (ret.join(F.broadcast(sizes), "cohort_ym")
            .select(
                F.format_string(
                    "%04d-%02d", (F.col("cohort_ym") / 12).cast("int"),
                    F.col("cohort_ym") % 12 + 1).alias("cohort_month"),
                F.col("months_since").cast("int").alias("months_since"),
                F.col("n_customers").cast("long").alias("n_customers"),
                F.col("cohort_size").cast("long").alias("cohort_size"),
                (F.floor(F.col("n_customers") / F.col("cohort_size")
                         * 1_000_000) / 1_000_000).alias("retention")))


QUERIES["cohort_retention"] = q_cohort_retention

ORACLE["cohort_retention"] = """
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym
  FROM orders
),
first AS (
  SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey
),
sizes AS (
  SELECT cohort_ym, count(DISTINCT o_custkey) AS cohort_size
  FROM first GROUP BY cohort_ym
),
ret AS (
  SELECT f.cohort_ym, o.ym - f.cohort_ym AS months_since,
         count(DISTINCT o.o_custkey) AS n
  FROM o JOIN first f ON f.o_custkey = o.o_custkey
  GROUP BY f.cohort_ym, o.ym - f.cohort_ym
)
SELECT printf('%04d-%02d', r.cohort_ym // 12, r.cohort_ym % 12 + 1)
         AS cohort_month,
       CAST(r.months_since AS INT) AS months_since,
       CAST(r.n AS BIGINT) AS n_customers,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       floor(r.n / s.cohort_size * 1000000) / 1000000 AS retention
FROM ret r JOIN sizes s ON s.cohort_ym = r.cohort_ym
"""


# ---- seasonal (hour-of-day) activity profile ---------------------------


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type: activity share, value
    level, and intra-hour spread — the profile a drift monitor compares
    fresh traffic against. One scan, one aggregation, one broadcast-
    size window over the 5x24 profile grid."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.functions.stats import _floor6

    ev = load_table(spark, sf_dir, "events")
    g = (ev.groupBy("event_type", F.hour("ts").alias("hour"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("value").alias("s"),
              F.min("value").alias("mn"),
              F.max("value").alias("mx")))
    w = Window.partitionBy("event_type")
    return g.select(
        "event_type",
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("long").alias("n_events"),
        _floor6(F.col("n") / F.sum("n").over(w)).alias("share_of_type"),
        _floor6(F.col("s") / F.col("n")).alias("avg_value"),
        _floor6(F.col("mx") - F.col("mn")).alias("value_spread"),
    )


QUERIES["seasonal_profile"] = q_seasonal_profile

ORACLE["seasonal_profile"] = """
WITH g AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour,
         count(*) AS n, sum(value) AS s, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour,
       CAST(n AS BIGINT) AS n_events,
       floor(n / (SUM(n) OVER (PARTITION BY event_type)) * 1000000)
         / 1000000 AS share_of_type,
       floor(s / n * 1000000) / 1000000 AS avg_value,
       floor((mx - mn) * 1000000) / 1000000 AS value_spread
FROM g
"""


# ---- robust (MAD) outlier detection ------------------------------------


def q_event_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier flags via the modified z-score
    0.6745·(v − median)/MAD (Iglewicz-Hoaglin): unlike the mean/stddev
    z-score in `event_anomalies`, the median/MAD profile does not let
    the outliers inflate their own baseline. Exact medians; two window
    aggregates over the SAME partitioning, so one shuffle and one sort
    serve both passes."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.functions.stats import _floor6

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    d1 = ev.select(
        "event_id", "event_type", "value",
        F.median("value").over(w).alias("med"))
    d2 = d1.withColumn(
        "mad", F.median(F.abs(F.col("value") - F.col("med"))).over(w))
    z = _floor6(F.lit(0.6745) * (F.col("value") - F.col("med"))
                / F.col("mad"))
    return d2.select(
        "event_id", "event_type", "value",
        _floor6(F.col("med")).alias("med"),
        _floor6(F.col("mad")).alias("mad"),
        F.when(F.col("mad") > 0, z).alias("modified_z"),
        F.coalesce(F.when(F.col("mad") > 0, F.abs(z) > 3.5),
                   F.lit(False)).alias("is_outlier"),
    )


QUERIES["event_mad_outliers"] = q_event_mad_outliers

ORACLE["event_mad_outliers"] = """
WITH d1 AS (
  SELECT event_id, event_type, value,
         median(value) OVER (PARTITION BY event_type) AS med
  FROM events
),
d2 AS (
  SELECT *,
         median(abs(value - med)) OVER (PARTITION BY event_type) AS mad
  FROM d1
)
SELECT event_id, event_type, value,
       floor(med * 1000000) / 1000000 AS med,
       floor(mad * 1000000) / 1000000 AS mad,
       CASE WHEN mad > 0
            THEN floor(0.6745 * (value - med) / mad * 1000000) / 1000000
       END AS modified_z,
       COALESCE(CASE WHEN mad > 0 THEN
         abs(floor(0.6745 * (value - med) / mad * 1000000) / 1000000) > 3.5
       END, FALSE) AS is_outlier
FROM d2
"""


# ---- streaming as-of join through the driver gate ----------------------

_ASOF_REPLAY_SINKS: dict[tuple, str] = {}


def q_asof_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase→latest-prior-click as-of join executed through the
    STREAMING lane: purchases and clicks replayed as two time-bucketed
    file streams (rows shuffled within each file), joined by the
    keyed-state streaming as-of operator (`streaming/asof_stream.py` —
    watermark-sealed emission, state = unsealed rows + latest sealed
    right per key), and the sink hash-matched against the SAME DuckDB
    ASOF JOIN oracle as the batch query — the second stream-produced
    result under the driver's correctness gate, covering the two-stream
    stateful operator the candle replay doesn't. Building this query
    RUNS the stream (laziness-guard exempt); the declared result is a
    pruned parquet scan of the sink."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.asof_stream import (
        streaming_asof_join,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _ASOF_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value")
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", "value")
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="asof_stream_replay_")
        base = _time.time() - 1000
        span = t1_ms - t0_ms + 1
        write_replay_buckets(purchases, "ts", f"{work}/left", n_files,
                             t0_ms, span, base, ["user_id", "ts"])
        write_replay_buckets(clicks, "ts", f"{work}/right", n_files,
                             t0_ms, span, base, ["user_id", "ts"])
        # far-future sentinel purchase (user -1) advances the shared
        # watermark past every real event so all pending lefts emit; its
        # own row stays unsealed/filtered
        # user_id declared long to MATCH the stream schema exactly — an
        # int32 sentinel file only reads back via Spark 4.x widening
        sent = spark.createDataFrame([(-1, -1)],
                                     "event_id long, user_id long").select(
            "event_id", "user_id",
            F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000)).alias("ts"),
            F.lit(0.0).alias("value"))
        write_sentinel_file(sent, f"{work}/left", n_files, base)

        lsrc = (spark.readStream.schema(purchases.schema)
                .option("maxFilesPerTrigger", 1).parquet(f"{work}/left/f*"))
        rsrc = (spark.readStream.schema(clicks.schema)
                .option("maxFilesPerTrigger", 1).parquet(f"{work}/right/f*"))
        joined = streaming_asof_join(lsrc, rsrc, on="user_id",
                                     left_time="ts", right_time="ts")
        sink = run_to_parquet_sink(joined, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/left", ignore_errors=True)
        shutil.rmtree(f"{work}/right", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _ASOF_REPLAY_SINKS[cache_key] = sink
    j = read_replay_sink(spark, sink).where(F.col("user_id") >= 0)
    return j.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
        F.col("value_asof").alias("last_click_value"),
        F.unix_millis("ts_asof").alias("last_click_ts_ms"),
    )


QUERIES["asof_stream_replay"] = q_asof_stream_replay

# the stream-produced join must hash-match the BATCH ASOF JOIN oracle
ORACLE["asof_stream_replay"] = """
SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, p.value,
       c.value AS last_click_value,
       epoch_ms(c.ts) AS last_click_ts_ms
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---- NATIVE stream-stream interval join through the driver gate ---------

_STREAM_JOIN_REPLAY_SINKS: dict[tuple, str] = {}

STREAM_JOIN_BAND_H = 24  # purchase joins clicks within the trailing band
STREAM_JOIN_FILES = 6   # more bucket boundaries -> more cross-batch matches


def q_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE watermarked stream-stream interval join under the
    driver gate: purchases and clicks replay as two time-bucketed file
    streams (in-file order md5-scrambled) and join on user within a
    trailing 24-hour band — the built-in stateful operator that replaces
    the reference's side-input pairing at scale (both sides buffer in
    the state store; the watermark + the two-sided time bound give the
    eviction horizon, so state is the band's width of rows, never the
    stream). The custom as-of operator (`asof_stream_replay`) covers
    latest-prior semantics; THIS lane covers the all-matches interval
    semantics through Spark's own join, exercising cross-micro-batch
    matching: a click buffered in batch i must still match a purchase
    arriving in batch i+1 (the band reaches across the bucket
    boundary — eviction-safe because a click older than watermark-band
    can no longer match any future purchase, by the same arithmetic
    the oracle runs). Non-vacuous by measurement: 8 cross-bucket
    matches at sf0.001 and 82 at sf0.01 ride the state store across
    micro-batch boundaries. Inner joins emit at match time — no
    sentinel needed. Oracle: the identical interval join as one batch
    SQL."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _STREAM_JOIN_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value")
        clicks = ev.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"))
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        n_files = STREAM_JOIN_FILES
        work = tempfile.mkdtemp(prefix="stream_join_replay_")
        base = _time.time() - 1000
        span = t1_ms - t0_ms + 1
        write_replay_buckets(purchases, "ts", f"{work}/left", n_files,
                             t0_ms, span, base, ["user_id", "ts"])
        write_replay_buckets(clicks, "c_ts", f"{work}/right", n_files,
                             t0_ms, span, base, ["c_user", "c_ts"])
        lsrc = (spark.readStream.schema(purchases.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{work}/left/f*")
                .withWatermark("ts", "0 seconds"))
        rsrc = (spark.readStream.schema(clicks.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{work}/right/f*")
                .withWatermark("c_ts", "0 seconds"))
        joined = lsrc.join(
            rsrc,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("ts"))
            & (F.col("c_ts")
               >= F.col("ts")
               - F.expr(f"INTERVAL {STREAM_JOIN_BAND_H} HOURS")))
        sink = run_to_parquet_sink(joined, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/left", ignore_errors=True)
        shutil.rmtree(f"{work}/right", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _STREAM_JOIN_REPLAY_SINKS[cache_key] = sink
    j = read_replay_sink(spark, sink)
    return j.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
        F.unix_millis("c_ts").alias("click_ts_ms"),
        F.col("c_value").alias("click_value"))


QUERIES["stream_join_replay"] = q_stream_join_replay

ORACLE["stream_join_replay"] = f"""
SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, p.value,
       epoch_ms(c.ts) AS click_ts_ms, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_BAND_H} HOUR
"""


# ---- winsorization (percentile clipping) -------------------------------


def q_event_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize event values at the per-type p01/p99: the standard
    outlier-clipping pass a feature pipeline runs before training.
    Exact interpolated percentiles as window aggregates over the same
    partitioning — one shuffle serves the bounds and the clip."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.functions.stats import _floor6

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    lo = F.expr("percentile(value, 0.01)").over(w)
    hi = F.expr("percentile(value, 0.99)").over(w)
    d = ev.select("event_id", "event_type", "value",
                  lo.alias("lo"), hi.alias("hi"))
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return d.select(
        "event_id", "event_type", "value",
        _floor6(F.col("lo")).alias("p01"),
        _floor6(F.col("hi")).alias("p99"),
        _floor6(clipped).alias("value_winsorized"),
        (F.col("value") < F.col("lo")).alias("clipped_low"),
        (F.col("value") > F.col("hi")).alias("clipped_high"),
    )


QUERIES["event_winsorize"] = q_event_winsorize

ORACLE["event_winsorize"] = """
WITH d AS (
  SELECT event_id, event_type, value,
         quantile_cont(value, 0.01) OVER (PARTITION BY event_type) AS lo,
         quantile_cont(value, 0.99) OVER (PARTITION BY event_type) AS hi
  FROM events
)
SELECT event_id, event_type, value,
       floor(lo * 1000000) / 1000000 AS p01,
       floor(hi * 1000000) / 1000000 AS p99,
       floor(least(greatest(value, lo), hi) * 1000000) / 1000000
         AS value_winsorized,
       value < lo AS clipped_low,
       value > hi AS clipped_high
FROM d
"""


# ---- streaming sessionization, driver-gated through replay --------------

_SESSIONS_REPLAY_SINKS: dict[tuple, str] = {}


def q_sessions_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization executed through the STREAMING lane
    (`streaming/sessions_stream.py` — Spark's native session_window
    state store, sessions merged across micro-batches, emitted once
    the watermark passes last_event + gap) and hash-matched against an
    independent DuckDB lag/cumsum oracle — the idiom the batch
    `user_sessions` query uses, re-derived in SQL.

    Events are replayed as 3 time-range files with md5-scrambled
    within-file order (session state must assemble sessions from
    scrambled arrival and merge those straddling batch boundaries); a
    far-future sentinel event (user -1) flushes the tail sessions. The
    fixture is boundary-free (verified: zero exact-30-minute
    inter-event gaps at sf0.01/0.1), so the session_window >= gap vs
    lag/cumsum > gap boundary difference documented on the operator
    cannot bite. Building this query RUNS the stream; the declared
    result is a pruned parquet scan of the sink."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.sessions_stream import (
        streaming_sessions,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _SESSIONS_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "value", "event_id")
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="sessions_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(ev, "ts", f"{work}/in", n_files,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["user_id", "event_id"])
        sent = spark.createDataFrame(
            [(-1,)], "user_id long").select(
            "user_id",
            F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000)).alias("ts"),
            F.lit(0.0).alias("value"), F.lit(-1).cast("long")
            .alias("event_id"))
        write_sentinel_file(sent, f"{work}/in", n_files, base)

        src = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        sessions = streaming_sessions(src, "user_id", "ts",
                                      gap="30 minutes", watermark="0 seconds")
        sink = run_to_parquet_sink(sessions, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _SESSIONS_REPLAY_SINKS[cache_key] = sink
    s = read_replay_sink(spark, sink).where(F.col("user_id") >= 0)
    return s.select("user_id", "session_start_ms", "session_last_ms",
                    "n_events", "session_value")


QUERIES["sessions_stream_replay"] = q_sessions_stream_replay

# independent lag/cumsum re-derivation (the batch idiom) — the stream's
# session_window state machine must reproduce it exactly
ORACLE["sessions_stream_replay"] = """
WITH flags AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
),
seq AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s
  FROM flags
)
SELECT user_id,
       epoch_ms(min(ts)) AS session_start_ms,
       epoch_ms(max(ts)) AS session_last_ms,
       count(*) AS n_events,
       round(sum(value), 6) AS session_value
FROM seq GROUP BY user_id, s
"""


# ---- streaming prequential anomalies, driver-gated through replay -------

_ANOMALY_REPLAY_SINKS: dict[tuple, str] = {}

_ANOM_N_FILES = 4
_ANOM_Z = 3.0
_ANOM_MIN_PRIOR = 10


def q_anomaly_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prequential anomaly detection executed through the STREAMING
    lane (`streaming/anomaly_stream.py` — each micro-batch scored
    against the moment store of strictly PRIOR batches, so an outlier
    never inflates the variance it is judged against) and hash-matched
    against a DuckDB oracle that re-derives the prequential discipline
    independently: events bucketed by the SAME time-range formula the
    replay writer uses, per-(key, bucket) moments, and
    exclusive-of-current-bucket cumulative window sums as the prior
    stats.

    This is a semantically DIFFERENT check from the batch
    `event_anomalies` (full-history sample-stddev z-score): the gate
    pins the streaming operator's own test-then-train contract, not
    batch equivalence. Building this query RUNS the stream."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.anomaly_stream import (
        streaming_anomalies,
    )
    from data_timeseries_java_spark.streaming.replay import (
        drive_query,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _ANOMALY_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value")
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        work = tempfile.mkdtemp(prefix="anomaly_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(ev, "ts", f"{work}/in", _ANOM_N_FILES,
                             t0_ms, t1_ms - t0_ms + 1, base,
                             ["event_id"])
        src = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        q = streaming_anomalies(spark, src, f"{work}/store",
                                key_col="event_type", value_col="value",
                                z=_ANOM_Z, min_prior_n=_ANOM_MIN_PRIOR)
        drive_query(q, 600, "anomaly stream replay")
        sink = f"{work}/store/anomalies"
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/store/checkpoint", ignore_errors=True)
        _ANOMALY_REPLAY_SINKS[cache_key] = sink
    a = (spark.read.option("basePath", sink).parquet(sink)
         .drop("batch_id"))
    return a.select(
        "event_id", "event_type", "value",
        F.col("prior_n").cast("long").alias("prior_n"),
        F.round("prior_mean", 6).alias("prior_mean"),
        F.round("prior_std", 6).alias("prior_std"),
    )


QUERIES["anomaly_stream_replay"] = q_anomaly_stream_replay

# independent prequential re-derivation: the bucket formula mirrors
# streaming/replay.write_replay_buckets (least(n-1, floor((ms - t0) * n
# / span))) so SQL buckets == micro-batches, and the prior stats are
# exclusive cumulative sums over bucket order
ORACLE["anomaly_stream_replay"] = f"""
WITH bounds AS (
  SELECT min(epoch_ms(ts)) AS t0,
         max(epoch_ms(ts)) - min(epoch_ms(ts)) + 1 AS span
  FROM events
),
ev AS (
  SELECT e.event_id, e.event_type, e.value,
         least({_ANOM_N_FILES - 1},
               floor((epoch_ms(e.ts) - b.t0) * {_ANOM_N_FILES} * 1.0
                     / b.span)) AS bucket
  FROM events e CROSS JOIN bounds b
),
per AS (
  SELECT event_type, bucket, count(*) AS c, sum(value) AS s,
         sum(value * value) AS ss
  FROM ev GROUP BY event_type, bucket
),
cum AS (
  SELECT event_type, bucket,
         sum(c) OVER w AS prior_n,
         sum(s) OVER w AS ps,
         sum(ss) OVER w AS pss
  FROM per
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT e.event_id, e.event_type, e.value, c.prior_n,
         c.ps / c.prior_n AS prior_mean,
         sqrt(greatest(c.pss / c.prior_n
                       - (c.ps / c.prior_n) * (c.ps / c.prior_n),
                       0.0)) AS prior_std
  FROM ev e JOIN cum c
    ON c.event_type = e.event_type AND c.bucket = e.bucket
)
SELECT event_id, event_type, value,
       CAST(prior_n AS BIGINT) AS prior_n,
       round(prior_mean, 6) AS prior_mean,
       round(prior_std, 6) AS prior_std
FROM scored
WHERE prior_n >= {_ANOM_MIN_PRIOR} AND prior_std > 0
  AND abs(value - prior_mean) > {_ANOM_Z} * prior_std
"""


# ---- market-basket pair mining ------------------------------------------

BASKET_MIN_SUPPORT = 3


def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part-brand pairs across orders (market-basket mining at
    the brand granularity): pairs of DISTINCT brands co-occurring in
    the same order, with support (co-occurrence count), each side's
    order frequency, confidence a→b, and lift. The self-join is
    blocked by order key (never all-pairs across the catalog — the
    standard a<b within-basket enumeration) and the per-brand counts
    broadcast back onto the pair frame."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (li.join(part, li.l_partkey == part.p_partkey)
             .select(F.col("l_orderkey").alias("okey"),
                     F.col("p_brand").alias("brand"))
             .distinct())
    a = items.alias("a")
    b = items.alias("b")
    pairs = (a.join(b, (F.col("a.okey") == F.col("b.okey"))
                    & (F.col("a.brand") < F.col("b.brand")))
             .groupBy(F.col("a.brand").alias("brand_a"),
                      F.col("b.brand").alias("brand_b"))
             .agg(F.count(F.lit(1)).alias("support"))
             .where(F.col("support") >= BASKET_MIN_SUPPORT))
    freq = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_orders"))
    # total order count as a broadcast 1-row frame, NOT a driver-side
    # count() at plan-build time (laziness guard / scale contract)
    tot = items.agg(F.countDistinct("okey").cast("double")
                    .alias("n_orders_total"))
    fa = freq.select(F.col("brand").alias("brand_a"),
                     F.col("n_orders").alias("n_a"))
    fb = freq.select(F.col("brand").alias("brand_b"),
                     F.col("n_orders").alias("n_b"))
    out = (pairs.join(F.broadcast(fa), "brand_a")
           .join(F.broadcast(fb), "brand_b")
           .crossJoin(F.broadcast(tot)))
    conf = F.col("support") / F.col("n_a")
    lift = (F.col("support") * F.col("n_orders_total")
            / (F.col("n_a") * F.col("n_b")))
    return out.select(
        "brand_a", "brand_b",
        F.col("support").cast("long").alias("support"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(conf, 6).alias("confidence"),
        F.round(lift, 6).alias("lift"))


QUERIES["market_basket_pairs"] = q_market_basket_pairs

ORACLE["market_basket_pairs"] = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS support
  FROM items a JOIN items b
    ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
),
freq AS (SELECT brand, count(*) AS n_orders FROM items GROUP BY brand),
tot AS (SELECT count(DISTINCT okey) AS n FROM items)
SELECT p.brand_a, p.brand_b,
       CAST(p.support AS BIGINT) AS support,
       CAST(fa.n_orders AS BIGINT) AS n_a,
       CAST(fb.n_orders AS BIGINT) AS n_b,
       round(p.support * 1.0 / fa.n_orders, 6) AS confidence,
       round(p.support * 1.0 * t.n / (fa.n_orders * fb.n_orders), 6)
         AS lift
FROM pairs p
JOIN freq fa ON fa.brand = p.brand_a
JOIN freq fb ON fb.brand = p.brand_b
CROSS JOIN tot t
"""


# ---- shipping latency profile -------------------------------------------


def q_order_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority: days from
    order date to each line's ship date, the share taking over 60
    days, and the spread (min/max) — the fulfilment-health rollup
    next to the revenue queries. Orders GROWS with the dataset (a
    fact, not a dim), so the join is left to the planner — AQE
    broadcasts while it fits and shuffles when it doesn't. A forced
    broadcast hint here was a round-11 audit finding: 15M rows pushed
    through the driver at the 100x decade, guaranteed OOM at 1000x.
    One aggregation, date arithmetic only."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders.select("o_orderkey", "o_orderdate",
                              "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (j.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.avg(days), 6).alias("avg_days_to_ship"),
                 F.min(days).cast("long").alias("min_days"),
                 F.max(days).cast("long").alias("max_days"),
                 F.round(F.avg((days > 60).cast("double")), 6)
                 .alias("slow_share")))


QUERIES["order_ship_latency"] = q_order_ship_latency

ORACLE["order_ship_latency"] = """
SELECT o_orderpriority AS priority,
       count(*) AS n_items,
       round(avg(datediff('day', o_orderdate, l_shipdate)), 6)
         AS avg_days_to_ship,
       CAST(min(datediff('day', o_orderdate, l_shipdate)) AS BIGINT)
         AS min_days,
       CAST(max(datediff('day', o_orderdate, l_shipdate)) AS BIGINT)
         AS max_days,
       round(avg(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                      THEN 1.0 ELSE 0.0 END), 6) AS slow_share
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---- Welch two-sample test between event types --------------------------


def q_event_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic for every pair of event types'
    value distributions — the A/B significance scan a metrics pipeline
    runs across variants. Per-type moments from ONE aggregation of one
    scan (decomposable sums, rounded per the house convention), then a
    tiny type x type self-join assembles all pairs; nothing rescans
    the events table per pair."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    st = ev.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(v), 6).alias("s"),
        F.round(F.sum(v * v), 6).alias("ss"))
    st = st.select(
        "t", "n", (F.col("s") / F.col("n")).alias("m"),
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
         / (F.col("n") - 1)).alias("var"))
    a, b = st.alias("a"), st.alias("b")
    j = a.join(b, F.col("a.t") < F.col("b.t"))
    tstat = ((F.col("a.m") - F.col("b.m"))
             / F.sqrt(F.col("a.var") / F.col("a.n")
                      + F.col("b.var") / F.col("b.n")))
    return j.select(
        F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b"),
        F.col("a.n").cast("long").alias("n_a"),
        F.col("b.n").cast("long").alias("n_b"),
        F.round(F.col("a.m"), 6).alias("mean_a"),
        F.round(F.col("b.m"), 6).alias("mean_b"),
        F.round(tstat, 6).alias("welch_t"))


QUERIES["event_ab_test"] = q_event_ab_test

ORACLE["event_ab_test"] = """
WITH st AS (
  SELECT event_type AS t, CAST(count(*) AS DOUBLE) AS n,
         round(sum(value), 6) AS s, round(sum(value * value), 6) AS ss
  FROM events GROUP BY event_type
),
m AS (
  SELECT t, n, s / n AS m, (ss - s * s / n) / (n - 1) AS var FROM st
)
SELECT a.t AS type_a, b.t AS type_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
       round((a.m - b.m) / sqrt(a.var / a.n + b.var / b.n), 6) AS welch_t
FROM m a JOIN m b ON a.t < b.t
"""


# ---- per-user behavioral entropy ----------------------------------------


def q_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix (nats) — the
    behavioral-diversity feature a personalization pipeline derives:
    0 for single-type users, ln(k) for a uniform k-type mix. Two
    aggregations on the same user partitioning (type counts, then the
    -sum p ln p fold); no joins, no explode."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("c"))
    tot = F.sum("c").over(Window.partitionBy("user_id"))
    p = F.col("c") / tot
    h = per.select("user_id", (-p * F.log(p)).alias("term"),
                   F.col("c").alias("c"))
    return (h.groupBy("user_id")
            .agg(F.sum("c").cast("long").alias("n_events"),
                 F.round(F.sum("term"), 6).alias("entropy_nats")))


QUERIES["user_behavior_entropy"] = q_user_behavior_entropy

ORACLE["user_behavior_entropy"] = """
WITH per AS (
  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY user_id, event_type
),
tot AS (
  SELECT user_id, event_type, c,
         sum(c) OVER (PARTITION BY user_id) AS n
  FROM per
)
SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
       round(sum(-(c / n) * ln(c / n)), 6) AS entropy_nats
FROM tot GROUP BY user_id
"""


# ---- revenue concentration (Gini) ---------------------------------------


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per nation — the
    inequality rollup a revenue-risk review reads (0 = every order
    equal, →1 = one order dominates). Closed form over ranked values:
    G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n with rank i by (value, order
    key) for determinism; one window sort per nation + one aggregation
    (rank sums rounded per the house convention)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (orders.join(customer, orders.o_custkey == customer.c_custkey)
         .join(F.broadcast(nation),
               customer.c_nationkey == nation.n_nationkey)
         .select(F.col("n_name").alias("nation"),
                 F.col("o_orderkey").alias("okey"),
                 F.col("o_totalprice").alias("x")))
    w = Window.partitionBy("nation").orderBy("x", "okey")
    r = j.select("nation", "x",
                 F.row_number().over(w).cast("double").alias("i"))
    st = r.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum(F.col("i") * F.col("x")), 6).alias("six"))
    gini = (2 * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1) / F.col("n"))
    return st.select(
        "nation", F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("sx"), 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"))


QUERIES["revenue_gini"] = q_revenue_gini

ORACLE["revenue_gini"] = """
WITH j AS (
  SELECT n_name AS nation, o_orderkey AS okey, o_totalprice AS x
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
r AS (
  SELECT nation, x,
         CAST(row_number() OVER (PARTITION BY nation ORDER BY x, okey)
              AS DOUBLE) AS i
  FROM j
),
st AS (
  SELECT nation, CAST(count(*) AS DOUBLE) AS n,
         round(sum(x), 6) AS sx, round(sum(i * x), 6) AS six
  FROM r GROUP BY nation
)
SELECT nation, CAST(n AS BIGINT) AS n_orders,
       round(sx, 2) AS total_revenue,
       round(2 * six / (n * sx) - (n + 1) / n, 6) AS gini
FROM st
"""


# ---- Benford first-digit deviation --------------------------------------


def q_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit profile of order totals —
    the fraud/data-quality screen auditors run on financial columns:
    observed digit shares vs log10(1 + 1/d), per-digit chi-square
    contribution. One scan, one aggregation; the digit falls out of
    floor(x / 10^floor(log10 x)) (no string formatting, which engines
    disagree on)."""
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x))))
    d = (orders.where(x > 0)
         .groupBy(digit.cast("int").alias("digit"))
         .agg(F.count(F.lit(1)).alias("n")))
    from pyspark.sql import Window

    # global window over the POST-AGGREGATION frame only (<= 9 digit
    # rows) — never over the orders scan
    total = F.sum("n").over(Window.partitionBy())
    share = F.col("n") / total
    expected = F.log10(1 + 1 / F.col("digit"))
    chi = ((share - expected) ** 2 / expected)
    return d.select(
        "digit", F.col("n").cast("long").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(chi * 10000, 6).alias("chi2_x1e4"))


QUERIES["benford_order_totals"] = q_benford_order_totals

ORACLE["benford_order_totals"] = """
WITH d AS (
  SELECT CAST(floor(o_totalprice
              / pow(10.0, floor(log10(o_totalprice)))) AS INT) AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
),
t AS (SELECT sum(n) AS total FROM d)
SELECT d.digit, CAST(d.n AS BIGINT) AS n,
       round(d.n * 1.0 / t.total, 6) AS share,
       round(log10(1 + 1.0 / d.digit), 6) AS benford_share,
       round(pow(d.n * 1.0 / t.total - log10(1 + 1.0 / d.digit), 2)
             / log10(1 + 1.0 / d.digit) * 10000, 6) AS chi2_x1e4
FROM d CROSS JOIN t
"""


# ---- PageRank over the brand co-occurrence graph ------------------------

PAGERANK_ITERS = 10
PAGERANK_D = 0.85


def q_brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the brand co-occurrence graph (nodes = part
    brands, undirected edges = distinct same-order co-occurrence):
    10 fixed power iterations with damping 0.85 — the graph-centrality
    family member next to the connected-components dedup clustering.

    Built as one LAZY plan: the iteration count is fixed, so the loop
    unrolls into 10 chained join+aggregate stages (no driver-side
    convergence probe, no collect — the node count rides along as a
    broadcast scalar frame). The DuckDB oracle unrolls the SAME 10
    stages as generated CTEs, so every iteration's arithmetic is
    hash-checked, not just the fixpoint shape."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (li.join(part, li.l_partkey == part.p_partkey)
             .select(F.col("l_orderkey").alias("okey"),
                     F.col("p_brand").alias("brand"))
             .distinct())
    a, b = items.alias("a"), items.alias("b")
    edges = (a.join(b, (F.col("a.okey") == F.col("b.okey"))
                    & (F.col("a.brand") != F.col("b.brand")))
             .select(F.col("a.brand").alias("src"),
                     F.col("b.brand").alias("dst"))
             .distinct())
    nodes = items.select("brand").distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_frame = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))

    ranks = (nodes.crossJoin(F.broadcast(n_frame))
             .select("brand", (F.lit(1.0) / F.col("n_nodes")).alias("r")))
    for _ in range(PAGERANK_ITERS):
        contrib = (edges.join(ranks, edges.src == ranks.brand)
                   .join(deg, "src")
                   .groupBy("dst")
                   .agg(F.sum(F.col("r") / F.col("deg")).alias("acc")))
        ranks = (nodes
                 .join(contrib, nodes.brand == contrib.dst, "left")
                 .crossJoin(F.broadcast(n_frame))
                 .select("brand",
                         ((1 - PAGERANK_D) / F.col("n_nodes")
                          + PAGERANK_D
                          * F.coalesce(F.col("acc"), F.lit(0.0)))
                         .alias("r")))
    return (ranks.join(deg, ranks.brand == deg.src, "left")
            .select("brand",
                    F.coalesce("deg", F.lit(0)).cast("long")
                    .alias("n_neighbors"),
                    F.round("r", 6).alias("pagerank")))


QUERIES["brand_pagerank"] = q_brand_pagerank


def _pagerank_sql(iters: int = PAGERANK_ITERS,
                  d: float = PAGERANK_D) -> str:
    stages = []
    for k in range(1, iters + 1):
        stages.append(f"""pr{k} AS (
  SELECT n.brand,
         (1 - {d}) / (SELECT n_nodes FROM nn)
           + {d} * coalesce(sum(p.r / dg.deg), 0) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.brand
  LEFT JOIN pr{k - 1} p ON p.brand = e.src
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY n.brand
)""")
    chain = ",\n".join(stages)
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
edges AS (
  SELECT DISTINCT a.brand AS src, b.brand AS dst
  FROM items a JOIN items b
    ON a.okey = b.okey AND a.brand <> b.brand
),
nodes AS (SELECT DISTINCT brand FROM items),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
pr0 AS (
  SELECT brand, 1.0 / (SELECT n_nodes FROM nn) AS r FROM nodes
),
{chain}
SELECT n.brand,
       CAST(coalesce(dg.deg, 0) AS BIGINT) AS n_neighbors,
       round(p.r, 6) AS pagerank
FROM nodes n
JOIN pr{iters} p ON p.brand = n.brand
LEFT JOIN deg dg ON dg.src = n.brand
"""


ORACLE["brand_pagerank"] = _pagerank_sql()


# ---- streaming funnel, driver-gated through replay ----------------------

_FUNNEL_REPLAY_SINKS: dict[tuple, str] = {}


def q_funnel_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel executed through the STREAMING lane
    (`streaming/funnel_stream.py` — per-user stage-cursor keyed state,
    batches folded in event-time order) and hash-matched against the
    SAME DuckDB oracle as the batch `funnel_conversion`. The sink
    holds per-batch cursor snapshots; the declared result takes each
    user's LATEST snapshot (max batch_id) and aggregates to the batch
    query's (stage, n_users) shape. Events are replayed as 3
    time-range files with md5-scrambled within-file order (the
    operator sorts within each batch; across batches the range
    bucketing supplies the event-order contract). Building this query
    RUNS the stream (laziness-guard exempt)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import Window

    from data_timeseries_java_spark.streaming.funnel_stream import (
        streaming_funnel,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _FUNNEL_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts", "event_id")
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="funnel_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(ev.drop("event_id"), "ts", f"{work}/in",
                             n_files, t0_ms, t1_ms - t0_ms + 1, base,
                             ["user_id", "ts"])
        src = (spark.readStream
               .schema("user_id long, event_type string, ts timestamp")
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        out = streaming_funnel(src)
        sink = run_to_parquet_sink(out, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _FUNNEL_REPLAY_SINKS[cache_key] = sink
    snaps = (spark.read.option("basePath", sink).parquet(sink))
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    latest = (snaps.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1))
    stages = [
        ("1_view", F.col("t_view").isNotNull()),
        ("2_click_after_view", F.col("t_click").isNotNull()),
        ("3_purchase_after_click", F.col("t_purchase").isNotNull()),
    ]
    out = None
    for name, cond in stages:
        row = (latest.where(cond)
               .agg(F.count(F.lit(1)).alias("n_users"))
               .select(F.lit(name).alias("stage"), "n_users"))
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["funnel_stream_replay"] = q_funnel_stream_replay

ORACLE["funnel_stream_replay"] = ORACLE["funnel_conversion"]


# ---- BUCKETED streaming as-of through the driver gate -------------------

_ASOF_BUCKETED_REPLAY_SINKS: dict[tuple, str] = {}


def q_asof_bucketed_stream_replay(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The purchase→latest-prior-click as-of join through the
    HASH-BUCKETED wide-key streaming variant
    (`streaming/asof_stream.streaming_asof_join_bucketed` — state
    keyed by hash(key) % n_buckets, one vectorized merge_asof per
    bucket per trigger; 2.8x the per-key variant's throughput at 10k
    keys, SCALE.md) and hash-matched against the SAME DuckDB ASOF
    JOIN oracle as `asof_stream_replay` — the new code path gets its
    own driver CORRECTNESS row instead of riding on pytest alone.
    Building this query RUNS the stream (laziness-guard exempt)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.asof_stream import (
        streaming_asof_join_bucketed,
    )
    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
        write_sentinel_file,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _ASOF_BUCKETED_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value")
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", "value")
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        n_files = 3
        work = tempfile.mkdtemp(prefix="asof_bucketed_replay_")
        base = _time.time() - 1000
        span = t1_ms - t0_ms + 1
        write_replay_buckets(purchases, "ts", f"{work}/left", n_files,
                             t0_ms, span, base, ["user_id", "ts"])
        write_replay_buckets(clicks, "ts", f"{work}/right", n_files,
                             t0_ms, span, base, ["user_id", "ts"])
        sent = spark.createDataFrame([(-1, -1)],
                                     "event_id long, user_id long").select(
            "event_id", "user_id",
            F.timestamp_millis(F.lit(t1_ms + 30 * 86_400_000)).alias("ts"),
            F.lit(0.0).alias("value"))
        write_sentinel_file(sent, f"{work}/left", n_files, base)

        lsrc = (spark.readStream.schema(purchases.schema)
                .option("maxFilesPerTrigger", 1).parquet(f"{work}/left/f*"))
        rsrc = (spark.readStream.schema(clicks.schema)
                .option("maxFilesPerTrigger", 1).parquet(f"{work}/right/f*"))
        joined = streaming_asof_join_bucketed(lsrc, rsrc, on="user_id",
                                              left_time="ts",
                                              right_time="ts",
                                              n_buckets=16)
        sink = run_to_parquet_sink(joined, f"{work}/out", f"{work}/ckpt")
        shutil.rmtree(f"{work}/left", ignore_errors=True)
        shutil.rmtree(f"{work}/right", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _ASOF_BUCKETED_REPLAY_SINKS[cache_key] = sink
    j = read_replay_sink(spark, sink).where(F.col("user_id") >= 0)
    return j.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
        F.col("value_asof").alias("last_click_value"),
        F.unix_millis("ts_asof").alias("last_click_ts_ms"),
    )


QUERIES["asof_bucketed_stream_replay"] = q_asof_bucketed_stream_replay

ORACLE["asof_bucketed_stream_replay"] = ORACLE["asof_stream_replay"]


# ---- activity heatmap (day-of-week x hour) ------------------------------


def q_event_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap with per-cell share
    and per-type mean value — the calendar profile a capacity planner
    reads. One scan, one aggregation; the dow encodings are aligned
    explicitly (Spark dayofweek is 1=Sunday..7, DuckDB's is
    0=Sunday..6 — the query normalizes to 0-based Sunday)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    g = (ev.groupBy((F.dayofweek("ts") - 1).cast("int").alias("dow"),
                    F.hour("ts").cast("int").alias("hod"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.round(F.avg("value"), 6).alias("mean_value")))
    # share over the POST-AGGREGATION frame (<= 168 cells)
    total = F.sum("n").over(Window.partitionBy())
    return g.select("dow", "hod", F.col("n").cast("long").alias("n"),
                    F.round(F.col("n") / total, 6).alias("share"),
                    "mean_value")


QUERIES["event_hour_profile"] = q_event_hour_profile

ORACLE["event_hour_profile"] = """
WITH g AS (
  SELECT CAST(dayofweek(ts) AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hod,
         count(*) AS n,
         round(avg(value), 6) AS mean_value
  FROM events GROUP BY 1, 2
),
t AS (SELECT sum(n) AS total FROM g)
SELECT dow, hod, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / t.total, 6) AS share, mean_value
FROM g CROSS JOIN t
"""


# ---- event-type transition matrix (first-order Markov chain) -------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: per user,
    consecutive event pairs (time order, event_id tie-break), aggregated
    into P(to | from). One user-keyed window pass + one (from, to)
    aggregate + a from-marginal window — the behavioral-model building
    block. Never materializes more than |types|² rows downstream."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("from_type"),
                       F.lead("event_type").over(w).alias("to_type"))
             .where(F.col("to_type").isNotNull()))
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"))


QUERIES["event_transitions"] = q_event_transitions

ORACLE["event_transitions"] = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM c
"""


# ---- Kaplan-Meier user survival ------------------------------------------

KM_CHURN_CUTOFF_MS = 24 * 3_600_000  # quiet for >= 24h before corpus end


def q_user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes (duration in whole
    hours between a user's first and last event). A user whose last
    event is at least 24h before the corpus end churned (death);
    later-active users are right-censored at their observed duration —
    the standard product-limit estimator:

        S(t) = Π_{t_i <= t} (1 − d_i / n_i)

    computed as exp of the ordered cumulative sum of ln factors (an
    ordered window sum — both engines add in the same sequence), with
    an explicit S=0 latch once a timepoint kills every at-risk user
    (ln(0) differs cross-engine: NULL in non-ANSI Spark, -inf DuckDB).

    Shape: one per-user aggregate, one broadcast corpus-end scalar, one
    duration-level aggregate (≤ distinct-durations rows), two ordered
    window passes. Lifetime table is user-sized, never event-sized."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis("ts")
    users = ev.groupBy("user_id").agg(
        F.min(t_ms).alias("first_ms"), F.max(t_ms).alias("last_ms"))
    end = ev.agg(F.max(t_ms).alias("_end_ms"))
    lifetimes = (users.crossJoin(F.broadcast(end))
                 .select(
                     F.floor((F.col("last_ms") - F.col("first_ms"))
                             / 3_600_000).alias("duration_h"),
                     (F.col("last_ms")
                      <= F.col("_end_ms") - KM_CHURN_CUTOFF_MS)
                     .alias("churned")))
    grid = lifetimes.groupBy("duration_h").agg(
        F.sum(F.col("churned").cast("long")).alias("d"),
        F.sum((~F.col("churned")).cast("long")).alias("c"))
    w = Window.orderBy("duration_h")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    upto = w.rowsBetween(Window.unboundedPreceding, 0)
    # at-risk = everyone not yet dead or censored strictly before t
    g = grid.select(
        "duration_h", "d", "c",
        (F.coalesce(F.sum(F.col("d") + F.col("c")).over(prev),
                    F.lit(0))).alias("gone_before"))
    tot = grid.agg(F.sum(F.col("d") + F.col("c"))
                   .cast("long").alias("_total"))
    g = g.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk", F.col("_total") - F.col("gone_before"))
    lnf = F.when(F.col("d") < F.col("n_at_risk"),
                 F.log(1.0 - F.col("d") / F.col("n_at_risk")))
    zero = F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(upto)
    surv = F.when(zero == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(lnf).over(upto)))
    return g.select(
        "duration_h", F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.round(surv, 6).alias("survival"),
    )


QUERIES["user_survival_km"] = q_user_survival_km

ORACLE["user_survival_km"] = f"""
WITH u AS (
  SELECT user_id, epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms
  FROM events GROUP BY user_id
),
e AS (SELECT max(epoch_ms(ts)) AS end_ms FROM events),
lifetimes AS (
  SELECT (last_ms - first_ms) // 3600000 AS duration_h,
         last_ms <= e.end_ms - {KM_CHURN_CUTOFF_MS} AS churned
  FROM u CROSS JOIN e
),
grid AS (
  SELECT duration_h,
         CAST(count(*) FILTER (churned) AS BIGINT) AS d,
         CAST(count(*) FILTER (NOT churned) AS BIGINT) AS c
  FROM lifetimes GROUP BY duration_h
),
t AS (SELECT sum(d + c) AS total FROM grid),
g AS (
  SELECT duration_h, d, c,
         t.total - coalesce(sum(d + c) OVER (ORDER BY duration_h
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM grid CROSS JOIN t
)
SELECT duration_h, d AS n_deaths, c AS n_censored,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       round(CASE WHEN max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
                    OVER upto = 1 THEN 0.0
             ELSE exp(sum(CASE WHEN d < n_at_risk
                               THEN ln(1.0 - d * 1.0 / n_at_risk)
                          END) OVER upto)
             END, 6) AS survival
FROM g
WINDOW upto AS (ORDER BY duration_h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---- ABC (Pareto) classification -----------------------------------------


def q_part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by total revenue,
    class A = the head covering 80% of cumulative revenue share,
    B = to 95%, C = the tail — the classic Pareto split (class
    boundaries are on the share BEFORE the part, so the part that
    crosses a boundary still belongs to the higher class). One
    lineitem aggregate + one ordered-window pass over the part-sized
    result; ties rank deterministically on part key."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # exact integer-cents arithmetic: price and discount are 2-decimal
    # values, so sum(price_cents * (100 - disc_pct)) is an exact BIGINT
    # — revenue and the cumulative shares below are order-independent
    # (a float sum rounded at 2 flipped a cent on 3 parts at sf0.01)
    cents = (F.round(F.col("l_extendedprice") * 100).cast("bigint")
             * F.round((1 - F.col("l_discount")) * 100).cast("bigint"))
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(cents).alias("rev_e4"))
    w = Window.orderBy(F.desc("rev_e4"), F.asc("partkey"))
    tot = rev.agg(F.sum("rev_e4").alias("_total"))
    r = (rev.crossJoin(F.broadcast(tot))
         .withColumn("rnk", F.row_number().over(w))
         .withColumn("cum_before",
                     F.coalesce(F.sum("rev_e4").over(
                         w.rowsBetween(Window.unboundedPreceding, -1)),
                         F.lit(0).cast("bigint"))))
    share_before = F.col("cum_before") / F.col("_total")
    cls = (F.when(share_before < 0.80, "A")
           .when(share_before < 0.95, "B").otherwise("C"))
    return r.select(
        "partkey",
        # half-up in INTEGER space then one exact small-int division —
        # round(rev_e4/10000.0, 2) hits engine-specific .5 handling on
        # the inexact quotient double
        (F.expr("CAST((rev_e4 + 50) DIV 100 AS DOUBLE)") / 100.0)
        .alias("revenue"),
        F.col("rnk").cast("long").alias("rnk"),
        F.round(share_before, 6).alias("cum_share_before"),
        cls.alias("abc_class"))


QUERIES["part_abc_classification"] = q_part_abc_classification

ORACLE["part_abc_classification"] = """
WITH rev AS (
  SELECT l_partkey AS partkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS rev_e4
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT sum(rev_e4) AS total FROM rev),
r AS (
  SELECT partkey, rev_e4,
         row_number() OVER w AS rnk,
         coalesce(sum(rev_e4) OVER (ORDER BY rev_e4 DESC, partkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         t.total
  FROM rev CROSS JOIN t
  WINDOW w AS (ORDER BY rev_e4 DESC, partkey ASC)
)
SELECT partkey, CAST((rev_e4 + 50) // 100 AS DOUBLE) / 100.0 AS revenue,
       CAST(rnk AS BIGINT) AS rnk,
       round(cum_before * 1.0 / total, 6) AS cum_share_before,
       CASE WHEN cum_before * 1.0 / total < 0.80 THEN 'A'
            WHEN cum_before * 1.0 / total < 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM r
"""


# ---- data-quality expectation suite --------------------------------------


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over the warehouse —
    the pre-training / pre-load audit a 100 TB pipeline runs before
    trusting a drop: key uniqueness, referential integrity, domain
    ranges, null contracts, derived-column consistency, and
    cross-column date ordering, emitted as ONE tall frame
    (check_name, tbl, n_rows, n_violations, violation_rate).

    Shape: one aggregate scan per table (each check is a conditional
    sum fused into its table's single pass — adding a check is a new
    column, not a new scan), one extra lineitem->orders join scan for
    the two cross-table checks, then a stack() unpivot of each tiny
    1-row aggregate. No check materializes violating ROWS — at 100 TB
    you audit with counters first and sample offenders separately."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def viol(cond):  # count rows violating an expectation
        return F.sum(F.when(cond, 1).otherwise(0))

    def tall(agg_df, tbl, checks):
        stack_args = ", ".join(
            f"'{name}', {name}" for name in checks)
        return (agg_df.select(
            F.expr(f"stack({len(checks)}, {stack_args}) "
                   "AS (check_name, n_violations)"),
            F.col("_n").alias("n_rows"))
            .select("check_name", F.lit(tbl).alias("tbl"),
                    F.col("n_rows").cast("long"),
                    F.col("n_violations").cast("long"),
                    F.round(F.col("n_violations")
                            / F.col("n_rows"), 6).alias("violation_rate")))

    o = orders.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .alias("orderkey_dup"),
        viol(F.col("o_totalprice") <= 0).alias("nonpos_totalprice"))
    li = lineitem.agg(
        F.count(F.lit(1)).alias("_n"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .alias("discount_range"),
        viol(F.col("l_quantity") <= 0).alias("nonpos_quantity"),
        viol(F.col("l_extendedprice") <= 0).alias("nonpos_extprice"))
    cu = customer.agg(
        F.count(F.lit(1)).alias("_n"),
        viol(F.col("c_acctbal") < 0).alias("negative_acctbal"),
        viol(F.col("c_mktsegment").isNull()).alias("null_mktsegment"))
    ev = events.agg(
        F.count(F.lit(1)).alias("_n"),
        viol(F.col("value").isNull()).alias("null_value"),
        viol(F.col("ts").isNull()).alias("null_ts"))
    dc = documents.agg(
        F.count(F.lit(1)).alias("_n"),
        viol(F.col("n_chars") != F.length("text"))
        .alias("n_chars_mismatch"),
        viol(F.col("text").isNull() | (F.length("text") == 0))
        .alias("empty_text"))
    lo = (lineitem.join(orders,
                        lineitem.l_orderkey == orders.o_orderkey, "left")
          .agg(F.count(F.lit(1)).alias("_n"),
               viol(F.col("o_orderkey").isNull()).alias("orphan_lineitem"),
               viol(F.col("l_shipdate") < F.col("o_orderdate"))
               .alias("ship_before_order")))

    return (tall(o, "orders", ["orderkey_dup", "nonpos_totalprice"])
            .unionByName(tall(li, "lineitem",
                              ["discount_range", "nonpos_quantity",
                               "nonpos_extprice"]))
            .unionByName(tall(cu, "customer",
                              ["negative_acctbal", "null_mktsegment"]))
            .unionByName(tall(ev, "events", ["null_value", "null_ts"]))
            .unionByName(tall(dc, "documents",
                              ["n_chars_mismatch", "empty_text"]))
            .unionByName(tall(lo, "lineitem_orders",
                              ["orphan_lineitem", "ship_before_order"])))


QUERIES["dq_expectations"] = q_dq_expectations

ORACLE["dq_expectations"] = """
WITH o AS (
  SELECT count(*) AS n, count(*) - count(DISTINCT o_orderkey) AS dup,
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos
  FROM orders
),
li AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
           AS disc,
         sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS npq,
         sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS npe
  FROM lineitem
),
cu AS (
  SELECT count(*) AS n,
         sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS negbal,
         sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS nullseg
  FROM customer
),
ev AS (
  SELECT count(*) AS n,
         sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nullval,
         sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS nullts
  FROM events
),
dc AS (
  SELECT count(*) AS n,
         sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS ncm,
         sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
           AS emp
  FROM documents
),
lo AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS orph,
         sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
           AS sbo
  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT check_name, tbl, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS BIGINT) AS n_violations,
       round(n_violations * 1.0 / n_rows, 6) AS violation_rate
FROM (
  SELECT 'orderkey_dup' AS check_name, 'orders' AS tbl, n AS n_rows,
         dup AS n_violations FROM o
  UNION ALL SELECT 'nonpos_totalprice', 'orders', n, nonpos FROM o
  UNION ALL SELECT 'discount_range', 'lineitem', n, disc FROM li
  UNION ALL SELECT 'nonpos_quantity', 'lineitem', n, npq FROM li
  UNION ALL SELECT 'nonpos_extprice', 'lineitem', n, npe FROM li
  UNION ALL SELECT 'negative_acctbal', 'customer', n, negbal FROM cu
  UNION ALL SELECT 'null_mktsegment', 'customer', n, nullseg FROM cu
  UNION ALL SELECT 'null_value', 'events', n, nullval FROM ev
  UNION ALL SELECT 'null_ts', 'events', n, nullts FROM ev
  UNION ALL SELECT 'n_chars_mismatch', 'documents', n, ncm FROM dc
  UNION ALL SELECT 'empty_text', 'documents', n, emp FROM dc
  UNION ALL SELECT 'orphan_lineitem', 'lineitem_orders', n, orph FROM lo
  UNION ALL SELECT 'ship_before_order', 'lineitem_orders', n, sbo FROM lo
)
"""


# ---- triangle census on the brand association graph ----------------------


def q_brand_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + local clustering coefficient per brand over the
    POSITIVE-ASSOCIATION graph (brands are adjacent when their
    within-order co-occurrence lift exceeds 1 — the scale-invariant
    edge rule, where a raw support threshold degrades to a complete
    graph as orders accumulate). The distributed-graph classic: ordered
    edges (a<b) enumerate each triangle exactly once via two hash joins
    (wedge a<b<c + closing edge); per-vertex counts come from exploding
    each triangle to its three corners.

    Scale shape: the wedge join is keyed on the shared vertex, the
    closing join on the (a, c) edge pair — both hash-partitioned, never
    all-pairs; production graphs would pre-orient edges by DEGREE
    (lowest-degree-first) to bound wedge fanout on power-law hubs —
    name order keeps the oracle trivial here and the census identical.
    Lift membership compares round(lift, 9) (house threshold rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
             .select(F.col("l_orderkey").alias("okey"),
                     F.col("p_brand").alias("brand"))
             .distinct())
    pairs = (items.alias("x").join(
        items.alias("y"),
        (F.col("x.okey") == F.col("y.okey"))
        & (F.col("x.brand") < F.col("y.brand")))
        .groupBy(F.col("x.brand").alias("ba"),
                 F.col("y.brand").alias("bb"))
        .agg(F.count(F.lit(1)).alias("support")))
    freq = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_ord"))
    tot = items.agg(F.countDistinct("okey").cast("double").alias("nt"))
    lift = (F.col("support") * F.col("nt")
            / (F.col("na") * F.col("nb")))
    edges = (pairs
             .join(F.broadcast(freq.select(F.col("brand").alias("ba"),
                                           F.col("n_ord").alias("na"))),
                   "ba")
             .join(F.broadcast(freq.select(F.col("brand").alias("bb"),
                                           F.col("n_ord").alias("nb"))),
                   "bb")
             .crossJoin(F.broadcast(tot))
             .where(F.round(lift, 9) > 1.0)
             .select("ba", "bb"))
    e1 = edges.select(F.col("ba").alias("a"), F.col("bb").alias("b"))
    e2 = edges.select(F.col("ba").alias("b"), F.col("bb").alias("c"))
    e3 = edges.select(F.col("ba").alias("a"), F.col("bb").alias("c"))
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
           .select("a", "b", "c"))
    corners = (tri.select(F.explode(F.array("a", "b", "c")).alias("brand"))
               .groupBy("brand")
               .agg(F.count(F.lit(1)).alias("n_triangles")))
    deg = (edges.select(F.col("ba").alias("brand"))
           .unionAll(edges.select(F.col("bb").alias("brand")))
           .groupBy("brand").agg(F.count(F.lit(1)).alias("degree")))
    cc = F.when(F.col("degree") >= 2,
                F.round(2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
                        / (F.col("degree") * (F.col("degree") - 1)), 6)) \
        .otherwise(F.lit(0.0))
    return (deg.join(corners, "brand", "left")
            .select("brand", F.col("degree").cast("long").alias("degree"),
                    F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    cc.alias("clustering_coeff")))


QUERIES["brand_triangles"] = q_brand_triangles

ORACLE["brand_triangles"] = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
pairs AS (
  SELECT x.brand AS ba, y.brand AS bb, count(*) AS support
  FROM items x JOIN items y
    ON x.okey = y.okey AND x.brand < y.brand
  GROUP BY x.brand, y.brand
),
freq AS (SELECT brand, count(*) AS n_ord FROM items GROUP BY brand),
tot AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS nt FROM items),
edges AS (
  SELECT p.ba, p.bb
  FROM pairs p
  JOIN freq fa ON fa.brand = p.ba
  JOIN freq fb ON fb.brand = p.bb
  CROSS JOIN tot
  WHERE round(p.support * tot.nt / (fa.n_ord * fb.n_ord), 9) > 1.0
),
tri AS (
  SELECT e1.ba AS a, e1.bb AS b, e2.bb AS c
  FROM edges e1
  JOIN edges e2 ON e2.ba = e1.bb
  JOIN edges e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
),
corners AS (
  SELECT brand, count(*) AS n_triangles FROM (
    SELECT a AS brand FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY brand
),
deg AS (
  SELECT brand, count(*) AS degree FROM (
    SELECT ba AS brand FROM edges UNION ALL SELECT bb FROM edges
  ) GROUP BY brand
)
SELECT d.brand, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(c.n_triangles, 0)
                       / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN corners c ON c.brand = d.brand
"""


# ---- robust trend: strided Theil-Sen slope -------------------------------


def q_value_trend_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type value trend: the median of pairwise slopes over
    the STRIDED pairing (row i with row i + n//2 in time order) — the
    Theil-Sen estimator restricted to n/2 wide-baseline pairs (Siegel's
    trick), immune to the outliers that bend q_value_trend_ols and
    LINEAR in n (full Theil-Sen's all-pairs median is O(n²) — the
    strided variant is the scale-honest form: n/2 slopes, one median).

    Shape: one row_number window per type, an equi-join on (type,
    rank + n//2) — hash-partitioned by type, no all-pairs — and one
    exact-percentile aggregate. Slopes are per-day (Δms / 86 400 000)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = ev.select(
        "event_type", "value", F.unix_millis("ts").alias("ts_ms"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("n"))
    a = base.select("event_type", F.col("rn").alias("ra"),
                    F.col("value").alias("va"),
                    F.col("ts_ms").alias("ta"), "n")
    b = base.select(F.col("event_type").alias("et_b"),
                    F.col("rn").alias("rb"),
                    F.col("value").alias("vb"),
                    F.col("ts_ms").alias("tb"))
    slope = ((F.col("vb") - F.col("va"))
             / ((F.col("tb") - F.col("ta")) / F.lit(86400000.0)))
    pairs = (a.join(b, (F.col("event_type") == F.col("et_b"))
                    & (F.col("rb") == F.col("ra")
                       + (F.col("n") / 2).cast("long")))
             .where(F.col("tb") != F.col("ta"))
             .select("event_type", slope.alias("slope")))
    return (pairs.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.round(F.expr("percentile(slope, 0.5)"), 6)
                 .alias("slope_per_day")))


QUERIES["value_trend_theilsen"] = q_value_trend_theilsen

ORACLE["value_trend_theilsen"] = """
WITH base AS (
  SELECT event_type, value, epoch_ms(ts) AS ts_ms,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
pairs AS (
  SELECT a.event_type,
         (b.value - a.value)
           / ((b.ts_ms - a.ts_ms) / 86400000.0) AS slope
  FROM base a
  JOIN base b ON b.event_type = a.event_type
             AND b.rn = a.rn + (a.n // 2)
  WHERE b.ts_ms <> a.ts_ms
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(slope), 6) AS slope_per_day
FROM pairs GROUP BY event_type
"""


# ---- funnel time-to-convert ----------------------------------------------


def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion timing: for each user, the delta from
    their FIRST click to their first purchase at-or-after it, summarized
    as conversion rate + exact p50/p90 minutes — the funnel-latency
    readout next to q_funnel_conversion's step counts. Two per-user
    aggregates (one per event-type slice of the same scan family) and a
    user-keyed join; the final summary is a single-row exact-percentile
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .groupBy("user_id")
              .agg(F.min("ts").alias("first_click")))
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts")
    conv = (purchases.join(clicks, "user_id")
            .where(F.col("ts") >= F.col("first_click"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("first_purchase"),
                 F.min("first_click").alias("first_click")))
    delta_min = ((F.unix_millis("first_purchase")
                  - F.unix_millis("first_click")) / F.lit(60000.0))
    stats = conv.select(delta_min.alias("delta_min")).agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(delta_min, 0.5)"), 6).alias("p50_min"),
        F.round(F.expr("percentile(delta_min, 0.9)"), 6).alias("p90_min"))
    n_users = clicks.agg(
        F.count(F.lit(1)).cast("long").alias("n_clickers"))
    return (stats.crossJoin(F.broadcast(n_users))
            .select("n_clickers", "n_converted",
                    F.round(F.col("n_converted") / F.col("n_clickers"), 6)
                    .alias("conv_rate"),
                    "p50_min", "p90_min"))


QUERIES["funnel_time_to_convert"] = q_funnel_time_to_convert

ORACLE["funnel_time_to_convert"] = """
WITH clicks AS (
  SELECT user_id, min(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
  SELECT p.user_id,
         min(epoch_ms(p.ts)) AS first_purchase_ms,
         min(epoch_ms(c.first_click)) AS first_click_ms
  FROM events p
  JOIN clicks c ON c.user_id = p.user_id
  WHERE p.event_type = 'purchase' AND p.ts >= c.first_click
  GROUP BY p.user_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_converted,
         round(quantile_cont((first_purchase_ms - first_click_ms)
                             / 60000.0, 0.5), 6) AS p50_min,
         round(quantile_cont((first_purchase_ms - first_click_ms)
                             / 60000.0, 0.9), 6) AS p90_min
  FROM conv
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_clickers FROM clicks)
SELECT n.n_clickers, s.n_converted,
       round(s.n_converted * 1.0 / n.n_clickers, 6) AS conv_rate,
       s.p50_min, s.p90_min
FROM stats s CROSS JOIN n
"""


# ---- calendar-spine gap-fill ---------------------------------------------


def q_monthly_revenue_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue on a COMPLETE calendar spine — months with no
    orders appear as explicit zero rows (the relational analogue of the
    FX gap-fill contract: downstream window math must never silently
    skip a period). The spine generates from the data's own min/max
    month via sequence() on a one-row aggregate — no driver-side date
    arithmetic, no eager scan; the revenue side joins in by month."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 month")))
        .alias("month"))
    rev = (orders.groupBy(F.date_trunc("month", "o_orderdate")
                          .alias("month"))
           .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders")))
    return (spine.join(rev, "month", "left")
            .select(F.unix_millis("month").alias("month_ms"),
                    F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
                    F.coalesce("n_orders", F.lit(0)).cast("long")
                    .alias("n_orders")))


QUERIES["monthly_revenue_complete"] = q_monthly_revenue_complete

ORACLE["monthly_revenue_complete"] = """
WITH bounds AS (
  SELECT date_trunc('month', min(o_orderdate)) AS lo,
         date_trunc('month', max(o_orderdate)) AS hi
  FROM orders
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
  FROM bounds
),
rev AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         round(sum(o_totalprice), 2) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT epoch_ms(s.month) AS month_ms,
       coalesce(r.revenue, 0.0) AS revenue,
       CAST(coalesce(r.n_orders, 0) AS BIGINT) AS n_orders
FROM spine s LEFT JOIN rev r ON r.month = s.month
"""


# ---- new vs returning users per month ------------------------------------


def q_weekly_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ISO week: users active for the FIRST time vs returning — the
    growth-accounting split every activity dashboard opens with. One
    (user, week) distinct, one per-user min-week join back; all-integer
    output. (Week, not month: granularity must subdivide the data's
    span to be a split at all — the fixture covers one month.)"""
    ev = load_table(spark, sf_dir, "events")
    um = (ev.select("user_id",
                    F.date_trunc("week", "ts").alias("week"))
          .distinct())
    first = um.groupBy("user_id").agg(F.min("week").alias("first_week"))
    return (um.join(first, "user_id")
            .groupBy("week")
            .agg(F.sum(F.when(F.col("week") == F.col("first_week"), 1)
                       .otherwise(0)).cast("long").alias("new_users"),
                 F.sum(F.when(F.col("week") != F.col("first_week"), 1)
                       .otherwise(0)).cast("long")
                 .alias("returning_users"))
            .select(F.unix_millis("week").alias("week_ms"),
                    "new_users", "returning_users"))


QUERIES["weekly_new_returning"] = q_weekly_new_returning

ORACLE["weekly_new_returning"] = """
WITH um AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
first AS (
  SELECT user_id, min(week) AS first_week FROM um GROUP BY user_id
)
SELECT epoch_ms(u.week) AS week_ms,
       CAST(sum(CASE WHEN u.week = f.first_week THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN u.week <> f.first_week THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users
FROM um u JOIN first f ON f.user_id = u.user_id
GROUP BY u.week
"""


# ---- rolling 7-day distinct users ----------------------------------------

ROLLING_DAYS = 7


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per active day — the rolling-DAU
    metric, computed EXACTLY with the covering-window explode: each
    (user, day) distinct pair replicates to the <= 7 day-windows it can
    contribute to (sequence() over a bounded literal range — work is
    7x linear, never a range self-join of the fact table), then one
    count-distinct per window day. Only days that actually appear in
    the data are reported (the spine-join variant above shows the
    zero-fill pattern)."""
    ev = load_table(spark, sf_dir, "events")
    ud = (ev.select("user_id", F.to_date("ts").alias("day"))
          .distinct())
    covering = ud.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"),
            F.date_add(F.col("day"), ROLLING_DAYS - 1))).alias("win_day"))
    days = ud.select("day").distinct() \
        .select(F.col("day").alias("win_day"))
    return (covering.join(days, "win_day")
            .groupBy("win_day")
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("distinct_users_7d"))
            .select(F.unix_millis(F.col("win_day").cast("timestamp"))
                    .alias("day_ms"), "distinct_users_7d"))


QUERIES["rolling_distinct_users"] = q_rolling_distinct_users

ORACLE["rolling_distinct_users"] = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
covering AS (
  SELECT user_id,
         unnest(generate_series(day, day + INTERVAL {ROLLING_DAYS - 1} DAY,
                                INTERVAL 1 DAY)) AS win_day
  FROM ud
),
days AS (SELECT DISTINCT day AS win_day FROM ud)
SELECT epoch_ms(CAST(c.win_day AS TIMESTAMP)) AS day_ms,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS distinct_users_7d
FROM covering c JOIN days d ON d.win_day = c.win_day
GROUP BY c.win_day
"""


# ---- weighted median (quantity-weighted unit price) ----------------------


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median unit price per part type — the weighted
    quantile no built-in aggregate provides: sort each group by unit
    price (deterministic tie-break on line identity), running-sum the
    weights, and take the first row whose cumulative weight crosses
    half the group total (min_by on the crossing set). One shuffle
    (the per-type sort); the crossing pick is an aggregate, not a
    second pass."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = (li.join(F.broadcast(part.select("p_partkey", "p_type")),
                    li.l_partkey == part.p_partkey)
            .select("p_type",
                    (F.col("l_extendedprice") / F.col("l_quantity"))
                    .alias("unit_price"),
                    F.col("l_quantity").alias("w"),
                    "l_orderkey", "l_linenumber"))
    win = (Window.partitionBy("p_type")
           .orderBy("unit_price", "l_orderkey", "l_linenumber")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy("p_type")
    c = base.select(
        "p_type", "unit_price",
        F.sum("w").over(win).alias("cum"),
        (F.sum("w").over(tot) / 2.0).alias("half"))
    return (c.where(F.col("cum") >= F.col("half"))
            .groupBy("p_type")
            .agg(F.round(F.min_by("unit_price", "cum"), 6)
                 .alias("weighted_median_unit_price"),
                 F.count(F.lit(1)).cast("long").alias("n_above_half")))


QUERIES["weighted_median_price"] = q_weighted_median_price

ORACLE["weighted_median_price"] = """
WITH base AS (
  SELECT p_type, l_extendedprice / l_quantity AS unit_price,
         l_quantity AS w, l_orderkey, l_linenumber
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
c AS (
  SELECT p_type, unit_price,
         sum(w) OVER (PARTITION BY p_type
                      ORDER BY unit_price, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(w) OVER (PARTITION BY p_type) / 2.0 AS half
  FROM base
)
SELECT p_type,
       round(min_by(unit_price, cum), 6) AS weighted_median_unit_price,
       CAST(count(*) AS BIGINT) AS n_above_half
FROM c WHERE cum >= half
GROUP BY p_type
"""


# ---- percent-of-parent hierarchy shares ----------------------------------


def q_region_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level percent-of-parent: each nation's revenue share WITHIN
    its region, and each region's share of the total — the hierarchy
    rollup pattern (window-over-aggregate, no second scan). Revenue is
    customer-nation attributed via broadcast dims; shares are ratios of
    the same aggregate so one shuffle feeds all three levels."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (customer
           .join(F.broadcast(nation),
                 customer.c_nationkey == nation.n_nationkey)
           .join(F.broadcast(region),
                 nation.n_regionkey == region.r_regionkey)
           .select("c_custkey", F.col("n_name").alias("nation"),
                   F.col("r_name").alias("region")))
    rev = (orders.join(F.broadcast(dim),
                       orders.o_custkey == dim.c_custkey)
           .groupBy("region", "nation")
           .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return rev.select(
        "region", "nation", "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6)
        .alias("share_of_region"),
        F.round(F.sum("revenue").over(wr) / F.sum("revenue").over(wt), 6)
        .alias("region_share_of_total"))


QUERIES["region_nation_share"] = q_region_nation_share

ORACLE["region_nation_share"] = """
WITH rev AS (
  SELECT r_name AS region, n_name AS nation,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  GROUP BY r_name, n_name
)
SELECT region, nation, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
         AS share_of_region,
       round(sum(revenue) OVER (PARTITION BY region)
             / sum(revenue) OVER (), 6) AS region_share_of_total
FROM rev
"""


def q_brand_triangles_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`brand_triangles` with DEGREE-ORIENTED edges — the skew guard
    the plain name-order census defers (SCALE.md §batch-3 decades):
    each undirected edge points from its lower-(degree, name) endpoint
    to the higher, so every wedge is enumerated AT the lower-degree
    vertex and a power-law hub of degree d contributes O(d) oriented
    out-edges bounded by sqrt(edges) instead of an O(d²) wedge fanout
    (the standard triangle-counting orientation). The triangle CENSUS
    is orientation-invariant, so this query gates against the SAME
    oracle as brand_triangles — the hash match IS the proof that the
    guard changes the plan, not the answer."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
             .select(F.col("l_orderkey").alias("okey"),
                     F.col("p_brand").alias("brand"))
             .distinct())
    pairs = (items.alias("x").join(
        items.alias("y"),
        (F.col("x.okey") == F.col("y.okey"))
        & (F.col("x.brand") < F.col("y.brand")))
        .groupBy(F.col("x.brand").alias("ba"),
                 F.col("y.brand").alias("bb"))
        .agg(F.count(F.lit(1)).alias("support")))
    freq = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_ord"))
    tot = items.agg(F.countDistinct("okey").cast("double").alias("nt"))
    lift = (F.col("support") * F.col("nt")
            / (F.col("na") * F.col("nb")))
    edges = (pairs
             .join(F.broadcast(freq.select(F.col("brand").alias("ba"),
                                           F.col("n_ord").alias("na"))),
                   "ba")
             .join(F.broadcast(freq.select(F.col("brand").alias("bb"),
                                           F.col("n_ord").alias("nb"))),
                   "bb")
             .crossJoin(F.broadcast(tot))
             .where(F.round(lift, 9) > 1.0)
             .select("ba", "bb"))
    deg = (edges.select(F.col("ba").alias("brand"))
           .unionAll(edges.select(F.col("bb").alias("brand")))
           .groupBy("brand").agg(F.count(F.lit(1)).alias("degree")))
    da = F.broadcast(deg.select(F.col("brand").alias("ba"),
                                F.col("degree").alias("dga")))
    db = F.broadcast(deg.select(F.col("brand").alias("bb"),
                                F.col("degree").alias("dgb")))
    ranked = edges.join(da, "ba").join(db, "bb")
    ka = F.struct(F.col("dga").alias("d"), F.col("ba").alias("n"))
    kb = F.struct(F.col("dgb").alias("d"), F.col("bb").alias("n"))
    oriented = ranked.select(
        F.when(ka < kb, F.col("ba")).otherwise(F.col("bb")).alias("src"),
        F.when(ka < kb, F.col("bb")).otherwise(F.col("ba")).alias("dst"),
        F.when(ka < kb, F.col("dgb")).otherwise(F.col("dga"))
        .alias("dst_deg"))
    o1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                         F.col("dst_deg").alias("dv"))
    o2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"),
                         F.col("dst_deg").alias("dw"))
    o3 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    kw = F.struct(F.col("dw").alias("d"), F.col("w").alias("n"))
    tri = (o1.join(o2, "u").where(kv < kw)
           .join(o3, ["v", "w"])
           .select("u", "v", "w"))
    corners = (tri.select(F.explode(F.array("u", "v", "w")).alias("brand"))
               .groupBy("brand")
               .agg(F.count(F.lit(1)).alias("n_triangles")))
    cc = F.when(F.col("degree") >= 2,
                F.round(2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
                        / (F.col("degree") * (F.col("degree") - 1)), 6)) \
        .otherwise(F.lit(0.0))
    return (deg.join(corners, "brand", "left")
            .select("brand", F.col("degree").cast("long").alias("degree"),
                    F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    cc.alias("clustering_coeff")))


QUERIES["brand_triangles_deg"] = q_brand_triangles_deg

# orientation-invariance gate: the degree-oriented census must equal the
# name-ordered census row for row — same oracle
ORACLE["brand_triangles_deg"] = ORACLE["brand_triangles"]


# ---- linear multi-touch attribution (round 8 session 2) ------------------

ATTR_HORIZON_MS = 7 * 86_400_000


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits its value
    equally across ALL the user's click/view touches in the preceding
    7 days (inclusive of the purchase instant), the many-touch
    companion to `asof_purchase_click`'s single nearest-touch lookup.
    Output grain = touch event: its type, how many purchases it helped,
    and its total credited value in exact micro-units (credit_micros =
    sum of round(value/n_touches * 1e6) BIGINTs — integer arithmetic
    after one deterministic per-purchase division, so the cross-engine
    hash cannot drift with float summation order).

    Shape: purchases x touches is an equi-join on user_id with the
    time band as a pushed residual — per-user fanout is bounded by
    touches-per-horizon, not history length. At 100 TB the same plan
    holds after week-bucketing both sides (each purchase probes 2
    buckets); the user-keyed shuffle is the only big exchange.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        F.unix_millis("ts").alias("p_ts_ms"), "value")
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("touch_type"), "user_id",
        F.unix_millis("ts").alias("t_ts_ms"))
    j = purchases.join(
        touches,
        (purchases.user_id == touches.user_id)
        & (F.col("t_ts_ms") <= F.col("p_ts_ms"))
        & (F.col("t_ts_ms") > F.col("p_ts_ms") - ATTR_HORIZON_MS),
    ).select(purchases.user_id, "p_id", "value", "t_id", "touch_type",
             "t_ts_ms")
    w = Window.partitionBy("p_id")
    per_touch = j.withColumn(
        "credit_micros",
        F.round(F.col("value") / F.count(F.lit(1)).over(w) * 1e6)
        .cast("long"))
    return (per_touch.groupBy("t_id", "touch_type", "user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
                 F.sum("credit_micros").cast("long")
                 .alias("credit_micros")))


QUERIES["attribution_linear"] = q_attribution_linear

ORACLE["attribution_linear"] = f"""
WITH purchases AS (
  SELECT event_id AS p_id, user_id, epoch_ms(ts) AS p_ts_ms, value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT event_id AS t_id, event_type AS touch_type, user_id,
         epoch_ms(ts) AS t_ts_ms
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.p_id, p.value, t.t_id, t.touch_type, t.user_id
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.t_ts_ms <= p.p_ts_ms
   AND t.t_ts_ms > p.p_ts_ms - {ATTR_HORIZON_MS}
),
per_touch AS (
  SELECT *, CAST(round(value / (count(*) OVER (PARTITION BY p_id))
                       * 1e6) AS BIGINT) AS credit_micros
  FROM j
)
SELECT t_id, touch_type, user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(credit_micros) AS BIGINT) AS credit_micros
FROM per_touch
GROUP BY t_id, touch_type, user_id
"""


DECAY_TAU_MS = 3 * 86_400_000  # 3-day e-folding recency horizon


def q_event_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity score per user: sum of exp(-(T - t_i)
    / tau) over the user's events, evaluated at the corpus's global
    max timestamp T (a deterministic "now"). The exponential-decay
    counter every engagement/alerting system keeps — one closed-form
    aggregate, no recursion, because the eval instant is fixed:
    the weights are per-row expressions and the sum is map-side
    combinable. Weights are rounded to 9 dp before summing so the
    cross-engine sum is over identical quantized terms.

    Shape: a one-row global max broadcast onto the scan, then one
    hash aggregate by user. At 100 TB: the same two stages; the decay
    horizon makes old partitions prunable by date predicate pushdown
    when T is supplied by config instead of derived."""
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis("ts")
    now = ev.agg(F.max(t_ms).alias("now_ms"))
    w = F.round(
        F.exp(-(F.col("now_ms") - t_ms) / F.lit(float(DECAY_TAU_MS))), 9)
    return (ev.crossJoin(F.broadcast(now))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.round(F.sum(w), 6).alias("decay_score"),
                 F.max(t_ms).alias("last_seen_ms")))


QUERIES["event_decay_score"] = q_event_decay_score

ORACLE["event_decay_score"] = f"""
WITH now_t AS (SELECT max(epoch_ms(ts)) AS now_ms FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(round(exp(-(n.now_ms - epoch_ms(ts))
                           / {float(DECAY_TAU_MS)}), 9)), 6)
         AS decay_score,
       max(epoch_ms(ts)) AS last_seen_ms
FROM events CROSS JOIN now_t n
GROUP BY user_id
"""


def q_part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration Herfindahl index per part brand: sum of
    squared revenue shares across suppliers (1/n = perfectly split,
    1.0 = single-supplier dependency — the procurement-risk rollup
    complementing revenue_gini's order-level inequality). Per-supplier
    revenue quantizes to exact integer CENTS after the first rounding,
    so every downstream sum is integer arithmetic — immune to float
    summation order; shares are exact long/long divisions and HHI is a
    sum of <= n_suppliers squared terms rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = (li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                        li.l_partkey == part.p_partkey)
                .groupBy("p_brand", "l_suppkey")
                .agg(F.round(F.sum(rev) * 100).cast("long")
                     .alias("supp_cents")))
    per_brand = per_supp.groupBy("p_brand").agg(
        F.sum("supp_cents").cast("long").alias("brand_cents"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"))
    share = F.col("supp_cents") / F.col("brand_cents")
    return (per_supp.join(per_brand, "p_brand")
            .groupBy("p_brand")
            .agg(F.first("n_suppliers").alias("n_suppliers"),
                 F.first("brand_cents").alias("brand_cents"),
                 F.round(F.sum(share * share), 6).alias("hhi")))


QUERIES["part_supplier_hhi"] = q_part_supplier_hhi

ORACLE["part_supplier_hhi"] = """
WITH per_supp AS (
  SELECT p.p_brand, l.l_suppkey,
         CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100)
              AS BIGINT) AS supp_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
per_brand AS (
  SELECT p_brand, CAST(sum(supp_cents) AS BIGINT) AS brand_cents,
         CAST(count(*) AS BIGINT) AS n_suppliers
  FROM per_supp GROUP BY 1
)
SELECT s.p_brand,
       any_value(b.n_suppliers) AS n_suppliers,
       any_value(b.brand_cents) AS brand_cents,
       round(sum((s.supp_cents * 1.0 / b.brand_cents)
                 * (s.supp_cents * 1.0 / b.brand_cents)), 6) AS hhi
FROM per_supp s JOIN per_brand b USING (p_brand)
GROUP BY s.p_brand
"""


K_ANON_K = 5


def q_events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk report over the events table published with
    quasi-identifiers (event_type, hour-of-day, value rounded to the
    nearest 10): for each equivalence class, its size and whether it
    breaches k=5 — plus each class's share of total rows. The
    data-governance companion to pii_scan (which looks INSIDE text;
    this measures re-identification risk of the released schema
    itself). One hash aggregate + one broadcast-scalar total."""
    ev = load_table(spark, sf_dir, "events")
    qid_val = (F.round(F.col("value") / 10) * 10).cast("long")
    cls = (ev.groupBy(F.col("event_type").alias("qi_type"),
                      F.hour("ts").alias("qi_hour"),
                      qid_val.alias("qi_value"))
           .agg(F.count(F.lit(1)).cast("long").alias("class_size")))
    total = cls.agg(F.sum("class_size").cast("long").alias("n_total"))
    return (cls.crossJoin(F.broadcast(total))
            .select("qi_type", "qi_hour", "qi_value", "class_size",
                    (F.col("class_size") < K_ANON_K).alias("at_risk"),
                    F.round(F.col("class_size") / F.col("n_total"), 6)
                    .alias("row_share")))


QUERIES["events_k_anonymity"] = q_events_k_anonymity

ORACLE["events_k_anonymity"] = f"""
WITH cls AS (
  SELECT event_type AS qi_type,
         hour(ts) AS qi_hour,
         CAST(round(value / 10) * 10 AS BIGINT) AS qi_value,
         CAST(count(*) AS BIGINT) AS class_size
  FROM events GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(sum(class_size) AS BIGINT) AS n_total FROM cls)
SELECT qi_type, qi_hour, qi_value, class_size,
       class_size < {K_ANON_K} AS at_risk,
       round(class_size * 1.0 / n_total, 6) AS row_share
FROM cls CROSS JOIN tot
"""


PSI_SPLIT_MS = 1_705_276_800_000  # 2024-01-15: reference = first half


def q_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event_type: decile bins fitted on
    the REFERENCE period (first half of the month), applied to the
    comparison period, PSI = sum (p_cmp - p_ref)·ln(p_cmp/p_ref) with
    0.5-count smoothing so empty bins stay finite — the standard
    tabular drift monitor next to source_lang_kl's distribution drift.
    Derivation shared with the streaming monitor via operators/drift.py
    (edges → mergeable integer bin counts → assembly).

    Determinism: bin edges are the exact interpolated deciles of the
    reference values rounded to 6 (same quantile definition both
    engines), bin assignment = count of edges strictly below the
    value — identical comparisons on identical doubles.

    Shape: one percentile aggregate per type (tiny — 9 edges x types,
    broadcast back), one binned count per (type, period, bin), a
    10-row-per-type spine so empty bins exist, one window sum."""
    from data_timeseries_java_spark.operators.drift import (
        psi_assemble,
        psi_bin_counts,
        psi_edges,
    )

    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis("ts")
    tagged = ev.select(
        F.col("event_type").alias("etype"), "value",
        (t_ms < PSI_SPLIT_MS).alias("is_ref"))
    edges = psi_edges(tagged)
    return psi_assemble(psi_bin_counts(tagged, edges), edges)


QUERIES["value_psi"] = q_value_psi

ORACLE["value_psi"] = f"""
WITH tagged AS (
  SELECT event_type AS etype, value,
         epoch_ms(ts) < {PSI_SPLIT_MS} AS is_ref
  FROM events
),
edges AS (
  SELECT etype,
         list_transform(
           quantile_cont(value, [{', '.join(str(q / 10.0) for q in range(1, 10))}]),
           e -> round(e, 6)) AS edges
  FROM tagged WHERE is_ref GROUP BY etype
),
binned AS (
  SELECT t.etype, t.is_ref,
         len(list_filter(e.edges, x -> t.value > x)) AS bin
  FROM tagged t JOIN edges e USING (etype)
),
counts AS (
  SELECT etype, bin,
         CAST(count(*) FILTER (is_ref) AS BIGINT) AS c_ref,
         CAST(count(*) FILTER (NOT is_ref) AS BIGINT) AS c_cmp
  FROM binned GROUP BY etype, bin
),
spine AS (
  SELECT e.etype, b.bin
  FROM edges e CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
),
fb AS (
  SELECT s.etype, s.bin,
         coalesce(c.c_ref, 0) AS c_ref,
         coalesce(c.c_cmp, 0) AS c_cmp
  FROM spine s LEFT JOIN counts c USING (etype, bin)
),
tot AS (
  SELECT etype, CAST(sum(c_ref) AS BIGINT) AS n_ref,
         CAST(sum(c_cmp) AS BIGINT) AS n_cmp
  FROM fb GROUP BY etype
),
scored AS (
  SELECT f.etype, f.bin, f.c_ref, f.c_cmp,
         (f.c_ref + 0.5) / (t.n_ref + 5.0) AS p_ref,
         (f.c_cmp + 0.5) / (t.n_cmp + 5.0) AS p_cmp,
         ((f.c_cmp + 0.5) / (t.n_cmp + 5.0)
          - (f.c_ref + 0.5) / (t.n_ref + 5.0))
         * ln(((f.c_cmp + 0.5) / (t.n_cmp + 5.0))
              / ((f.c_ref + 0.5) / (t.n_ref + 5.0))) AS contrib
  FROM fb f JOIN tot t USING (etype)
)
SELECT etype, CAST(bin AS INTEGER) AS bin, c_ref, c_cmp,
       round(p_ref, 6) AS p_ref,
       round(p_cmp, 6) AS p_cmp,
       round(contrib, 6) AS contribution,
       round(sum(round(contrib, 6)) OVER (PARTITION BY etype), 6)
         AS psi
FROM scored
"""


def q_event_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout: users split by
    id parity, per-user purchase-value totals in the pre period (first
    half-month, the covariate X) and post period (the metric Y);
    theta = cov(X,Y)/var(X) POOLED, adjusted metric
    Y' = Y − theta·(X − mean X). Reports per-variant adjusted means
    and the variance-reduction factor — the standard experiment-
    sensitivity trick, closed-form from one user-level aggregate.

    Determinism: per-user sums round to 6 (house convention); theta
    and the pooled X mean round to 6 before adjustment so every
    engine adjusts with identical constants.

    Shape: one scan → user aggregate; moments are one tiny aggregate
    broadcast back; nothing rescans events per variant."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis("ts")
    pre = F.when((t_ms < PSI_SPLIT_MS)
                 & (F.col("event_type") == "purchase"),
                 F.col("value")).otherwise(0.0)
    post = F.when((t_ms >= PSI_SPLIT_MS)
                  & (F.col("event_type") == "purchase"),
                  F.col("value")).otherwise(0.0)
    users = (ev.groupBy("user_id")
             .agg(F.round(F.sum(pre), 6).alias("x"),
                  F.round(F.sum(post), 6).alias("y"))
             .withColumn("variant", (F.col("user_id") % 2).cast("long")))
    mom = users.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"))
    mom = mom.select(
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
                / (F.col("sxx") - F.col("sx") * F.col("sx")
                   / F.col("n")), 6).alias("theta"),
        F.round(F.col("sx") / F.col("n"), 6).alias("xbar"))
    adj = (users.crossJoin(F.broadcast(mom))
           .withColumn("y_adj", F.col("y") - F.col("theta")
                       * (F.col("x") - F.col("xbar"))))
    g = (adj.groupBy("variant")
         .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
              F.round(F.sum("y"), 6).alias("sy"),
              F.round(F.sum(F.col("y") * F.col("y")), 6).alias("syy"),
              F.round(F.sum("y_adj"), 6).alias("sa"),
              F.round(F.sum(F.col("y_adj") * F.col("y_adj")), 6)
              .alias("saa"),
              F.first("theta").alias("theta")))
    n = F.col("n_users").cast("double")
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    var_a = (F.col("saa") - F.col("sa") * F.col("sa") / n) / (n - 1)
    return g.select(
        "variant", "n_users",
        F.round(F.col("sy") / n, 6).alias("mean_post"),
        F.round(F.col("sa") / n, 6).alias("mean_adj"),
        "theta",
        F.round(1.0 - var_a / var_y, 6).alias("var_reduction"))


QUERIES["event_cuped"] = q_event_cuped

ORACLE["event_cuped"] = f"""
WITH users AS (
  SELECT user_id,
         round(sum(CASE WHEN epoch_ms(ts) < {PSI_SPLIT_MS}
                         AND event_type = 'purchase'
                        THEN value ELSE 0.0 END), 6) AS x,
         round(sum(CASE WHEN epoch_ms(ts) >= {PSI_SPLIT_MS}
                         AND event_type = 'purchase'
                        THEN value ELSE 0.0 END), 6) AS y,
         CAST(user_id % 2 AS BIGINT) AS variant
  FROM events GROUP BY user_id
),
mom AS (
  SELECT round((round(sum(x * y), 6)
                - round(sum(x), 6) * round(sum(y), 6) / count(*))
               / (round(sum(x * x), 6)
                  - round(sum(x), 6) * round(sum(x), 6) / count(*)),
               6) AS theta,
         round(round(sum(x), 6) / count(*), 6) AS xbar
  FROM users
),
adj AS (
  SELECT u.*, m.theta, u.y - m.theta * (u.x - m.xbar) AS y_adj
  FROM users u CROSS JOIN mom m
),
g AS (
  SELECT variant,
         CAST(count(*) AS BIGINT) AS n_users,
         round(sum(y), 6) AS sy,
         round(sum(y * y), 6) AS syy,
         round(sum(y_adj), 6) AS sa,
         round(sum(y_adj * y_adj), 6) AS saa,
         any_value(theta) AS theta
  FROM adj GROUP BY variant
)
SELECT variant, n_users,
       round(sy / n_users, 6) AS mean_post,
       round(sa / n_users, 6) AS mean_adj,
       theta,
       round(1.0 - ((saa - sa * sa / n_users) / (n_users - 1))
                   / ((syy - sy * sy / n_users) / (n_users - 1)), 6)
         AS var_reduction
FROM g
"""


# ---- streaming PSI drift monitor, driver-gated through replay ------------

_PSI_REPLAY_SINKS: dict[tuple, str] = {}


def q_psi_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift monitor with bin counts accumulated through the
    STREAMING lane: events replayed as 3 time-range files, each
    micro-batch binned against FIXED reference decile edges (fit
    offline — how a production monitor deploys) and persisting one
    integer (etype, bin, c_ref, c_cmp) partial
    (streaming/drift_stream.py — the mergeable-store family). Integer
    sums merge losslessly, so the resolved report hash-matches the
    batch `value_psi` oracle exactly; the edge/bin/assembly code is
    literally shared (operators/drift.py), so the lanes cannot drift.
    Building this query RUNS the stream (laziness-guard exempt)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.operators.drift import psi_edges
    from data_timeseries_java_spark.streaming.drift_stream import (
        read_streaming_psi,
        streaming_psi_counts,
    )
    from data_timeseries_java_spark.streaming.replay import (
        drive_query,
        write_replay_buckets,
    )

    def _tagged(ev):
        t_ms = F.unix_millis("ts")
        return ev.select(F.col("event_type").alias("etype"), "value",
                         (t_ms < PSI_SPLIT_MS).alias("is_ref"), "ts")

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    work = _PSI_REPLAY_SINKS.get(cache_key)
    ev = load_table(spark, sf_dir, "events")
    edges = psi_edges(_tagged(ev))
    if work is None or not os.path.isdir(f"{work}/out/psi"):
        feed = _tagged(ev)
        t0_ms, t1_ms = feed.select(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        work = tempfile.mkdtemp(prefix="psi_stream_replay_")
        write_replay_buckets(feed, "ts", f"{work}/in", 3,
                             t0_ms, t1_ms - t0_ms + 1,
                             _time.time() - 1000, ["etype", "ts"])
        src = (spark.readStream.schema(feed.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        q = streaming_psi_counts(spark, src, edges, f"{work}/out")
        drive_query(q, 600, "psi stream replay")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/out/checkpoint", ignore_errors=True)
        _PSI_REPLAY_SINKS[cache_key] = work
    return read_streaming_psi(spark, f"{work}/out", edges)


QUERIES["psi_stream_replay"] = q_psi_stream_replay

# lossless-merge claim: the streamed counts equal the batch counts, so
# the gate is the SAME oracle
ORACLE["psi_stream_replay"] = ORACLE["value_psi"]


def q_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance per event_type between
    the reference and comparison half-months: D = max |ECDF_ref −
    ECDF_cmp| evaluated at every distinct value (right-continuous
    ECDFs make distinct-value evaluation exact) — the distribution-
    free drift test completing the monitor family (event_ab_test:
    means; value_psi: binned shares; this: whole-distribution shape).
    ECDF fractions are exact integer-count ratios rounded to 9 before
    the difference, so the max is over identical doubles cross-engine.

    Shape: per-(type, value) counts collapse the scan first; one sort
    per type over DISTINCT values (far smaller than rows); two running
    sums and a max on the same sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis("ts")
    cells = (ev.groupBy(F.col("event_type").alias("etype"),
                        "value")
             .agg(F.sum(F.when(t_ms < PSI_SPLIT_MS, 1).otherwise(0))
                  .cast("long").alias("c_ref"),
                  F.sum(F.when(t_ms >= PSI_SPLIT_MS, 1).otherwise(0))
                  .cast("long").alias("c_cmp")))
    w = (Window.partitionBy("etype").orderBy("value")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy("etype")
    ecdf_ref = F.round(F.sum("c_ref").over(w)
                       / F.sum("c_ref").over(tot), 9)
    ecdf_cmp = F.round(F.sum("c_cmp").over(w)
                       / F.sum("c_cmp").over(tot), 9)
    d = F.abs(ecdf_ref - ecdf_cmp)
    scored = cells.select(
        "etype",
        F.sum("c_ref").over(tot).alias("n_ref"),
        F.sum("c_cmp").over(tot).alias("n_cmp"),
        d.alias("d"))
    return (scored.groupBy("etype")
            .agg(F.first("n_ref").alias("n_ref"),
                 F.first("n_cmp").alias("n_cmp"),
                 F.round(F.max("d"), 6).alias("ks_d")))


QUERIES["value_ks_test"] = q_value_ks_test

ORACLE["value_ks_test"] = f"""
WITH cells AS (
  SELECT event_type AS etype, value,
         CAST(count(*) FILTER (epoch_ms(ts) < {PSI_SPLIT_MS})
              AS BIGINT) AS c_ref,
         CAST(count(*) FILTER (epoch_ms(ts) >= {PSI_SPLIT_MS})
              AS BIGINT) AS c_cmp
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT etype,
         sum(c_ref) OVER (PARTITION BY etype) AS n_ref,
         sum(c_cmp) OVER (PARTITION BY etype) AS n_cmp,
         abs(round(sum(c_ref) OVER cum * 1.0
                   / sum(c_ref) OVER (PARTITION BY etype), 9)
             - round(sum(c_cmp) OVER cum * 1.0
                     / sum(c_cmp) OVER (PARTITION BY etype), 9)) AS d
  FROM cells
  WINDOW cum AS (PARTITION BY etype ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT etype,
       CAST(any_value(n_ref) AS BIGINT) AS n_ref,
       CAST(any_value(n_cmp) AS BIGINT) AS n_cmp,
       round(max(d), 6) AS ks_d
FROM scored
GROUP BY etype
"""


def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz/Pareto revenue-concentration curve: customers ranked by
    total spend (ties broken by custkey for determinism), bucketed
    into spend deciles, each reporting its cumulative share of total
    revenue — the "top 10% carry X%" table that complements
    revenue_gini's scalar. Per-customer revenue quantizes to integer
    cents after one rounding, so every running sum is exact integer
    arithmetic.

    Scale note: the global rank is one total-order sort of the
    CUSTOMER frame (dimension-sized, 150k/SF — fine into the
    billions on a range-partitioned sort); a sketch-only variant
    would read the decile boundaries off the mergeable grid-quantile
    store (queries/scale.py) and keep everything pre-aggregated."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = (orders.groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice") * 100).cast("long")
                 .alias("cents")))
    wr = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    n_w = Window.partitionBy()
    ranked = cust.select(
        "o_custkey", "cents",
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(n_w).alias("n_cust"),
        F.sum("cents").over(n_w).alias("total_cents"),
        F.sum("cents").over(
            wr.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_cents"))
    decile = F.least(F.floor((F.col("rnk") - 1) * 10 / F.col("n_cust")),
                     F.lit(9)).cast("long")
    g = (ranked.groupBy(decile.alias("decile"))
         .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
              F.max("cum_cents").cast("long").alias("cum_cents"),
              F.first("total_cents").alias("total_cents")))
    return g.select(
        "decile", "n_customers",
        F.round(F.col("cum_cents") / F.col("total_cents"), 6)
        .alias("cum_revenue_share"))


QUERIES["revenue_pareto"] = q_revenue_pareto

ORACLE["revenue_pareto"] = """
WITH cust AS (
  SELECT o_custkey,
         CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, cents,
         row_number() OVER wr AS rnk,
         count(*) OVER () AS n_cust,
         sum(cents) OVER () AS total_cents,
         sum(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_cents
  FROM cust
  WINDOW wr AS (ORDER BY cents DESC, o_custkey)
)
SELECT CAST(least((rnk - 1) * 10 // n_cust, 9) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(max(cum_cents) * 1.0 / any_value(total_cents), 6)
         AS cum_revenue_share
FROM ranked
GROUP BY 1
"""


# ---- change-log -> SCD2 dimension history ---------------------------------


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change log — the
    warehouse-maintenance staple: per user, consecutive runs of the
    same attribute (event_type) collapse to one versioned row with
    [valid_from, valid_to) millisecond bounds, valid_to NULL on the
    current row. Ordering ties break on event_id ((user, ts) is not
    unique in a real change log — never trust it silently).

    Shape: ONE per-user sort serves the change detector (lag), the
    version counter (a conditional running sum over the same frame)
    and the interval close (lead on the collapsed rows) — no
    self-join, no second shuffle. At 100 TB this is the standard
    key-partitioned window pass; version state never leaves the
    partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_ms = F.unix_millis(F.col("ts"))
    chg = (F.lag("event_type").over(wk).isNull()
           | (F.col("event_type") != F.lag("event_type").over(wk)))
    marked = ev.select(
        "user_id", t_ms.alias("t_ms"), "event_id", "event_type",
        chg.cast("int").alias("is_chg"))
    starts = (marked.where(F.col("is_chg") == 1)
              .select("user_id", "event_type",
                      F.col("t_ms").alias("valid_from_ms"), "event_id"))
    wv = Window.partitionBy("user_id").orderBy("valid_from_ms",
                                               "event_id")
    nxt = F.lead("valid_from_ms").over(wv)
    return starts.select(
        "user_id",
        (F.row_number().over(wv)).cast("long").alias("version"),
        F.col("event_type").alias("attr"),
        "valid_from_ms",
        (nxt - 1).alias("valid_to_ms"),
        nxt.isNull().alias("is_current"))


QUERIES["scd2_history"] = q_scd2_history

ORACLE["scd2_history"] = """
WITH ordered AS (
  SELECT user_id, epoch_ms(ts) AS t_ms, event_id, event_type,
         CASE WHEN lag(event_type) OVER wk IS NULL
                   OR event_type <> lag(event_type) OVER wk
              THEN 1 ELSE 0 END AS is_chg
  FROM events
  WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id)
),
starts AS (
  SELECT user_id, event_type, t_ms AS valid_from_ms, event_id
  FROM ordered WHERE is_chg = 1
)
SELECT user_id,
       CAST(row_number() OVER wv AS BIGINT) AS version,
       event_type AS attr,
       valid_from_ms,
       lead(valid_from_ms) OVER wv - 1 AS valid_to_ms,
       lead(valid_from_ms) OVER wv IS NULL AS is_current
FROM starts
WINDOW wv AS (PARTITION BY user_id ORDER BY valid_from_ms, event_id)
"""


# ---- snapshot reconciliation diff ------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: per-user latest state at the stream's
    temporal MIDPOINT vs at the end, classified added / changed /
    unchanged — the audit diff a pipeline runs between two loads of
    the same dimension. The cut derives from the data's own extent
    (broadcast single-row aggregate inside the plan — never an eager
    driver action), so the query is scale-independent. 'Latest' ties
    break on event_id, same contract as scd2_history.

    Shape: one extent broadcast, two latest-per-key aggregates off
    one scan (max_by over (ts, event_id)), one full-outer-style left
    join on the new side (a user present before the cut is present at
    the end by construction — removal would need deletes, which an
    append-only event log cannot express; stated, not assumed)."""
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis(F.col("ts"))
    # Exact integer halving: ((min+max)/2).cast("long") would TRUNCATE
    # the .5 while DuckDB's CAST(... AS BIGINT) rounds to nearest —
    # the two engines could put cut_ms 1 ms apart and flip a boundary
    # event's old-snapshot membership. floor((min+max)/2) == (min+max)//2
    # on both sides, bit-exact for any realistic epoch range.
    ext = ev.agg(
        F.floor((F.min(t_ms) + F.max(t_ms)) / 2)
        .cast("long").alias("cut_ms"))
    e = (ev.select("user_id", t_ms.alias("t_ms"), "event_id",
                   "event_type", "value")
         .crossJoin(F.broadcast(ext)))
    ord_key = F.struct(F.col("t_ms"), F.col("event_id"))
    state = F.struct(F.col("event_type"), F.col("value"))
    new = (e.groupBy("user_id")
           .agg(F.max_by(state, ord_key).alias("n")))
    old = (e.where(F.col("t_ms") < F.col("cut_ms"))
           .groupBy("user_id")
           .agg(F.max_by(state, ord_key).alias("o")))
    j = new.join(old, "user_id", "left")
    status = (F.when(F.col("o").isNull(), "added")
              .when((F.col("o.event_type") == F.col("n.event_type"))
                    & (F.col("o.value") == F.col("n.value")),
                    "unchanged")
              .otherwise("changed"))
    return j.select(
        "user_id", status.alias("status"),
        F.col("o.event_type").alias("old_type"),
        F.col("n.event_type").alias("new_type"),
        F.col("o.value").alias("old_value"),
        F.col("n.value").alias("new_value"))


QUERIES["snapshot_diff"] = q_snapshot_diff

ORACLE["snapshot_diff"] = """
WITH ext AS (
  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS cut_ms
  FROM events
),
new_s AS (
  SELECT user_id, event_type AS new_type, value AS new_value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn FROM events)
  WHERE rn = 1
),
old_s AS (
  SELECT user_id, event_type AS old_type, value AS old_value
  FROM (SELECT e.*, row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events e, ext WHERE epoch_ms(ts) < cut_ms)
  WHERE rn = 1
)
SELECT n.user_id,
       CASE WHEN o.user_id IS NULL THEN 'added'
            WHEN o.old_type = n.new_type AND o.old_value = n.new_value
              THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_type, n.new_type, o.old_value, n.new_value
FROM new_s n LEFT JOIN old_s o USING (user_id)
"""


_SCD2_REPLAY_SINKS: dict[tuple, str] = {}


def q_scd2_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 through the driver gate: the events change log
    replayed as 3 time-bucketed files (rows scrambled within each),
    folded by `streaming/scd2_stream.py`'s keyed state, and the sink
    of CLOSED versions hash-matched against the batch scd2_history
    oracle restricted to WHERE NOT is_current — the open current
    version is, by the completed-units contract, still in state when
    the stream ends."""
    import os
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from data_timeseries_java_spark.streaming.replay import (
        read_replay_sink,
        run_to_parquet_sink,
        write_replay_buckets,
    )
    from data_timeseries_java_spark.streaming.scd2_stream import (
        streaming_scd2,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    sink = _SCD2_REPLAY_SINKS.get(cache_key)
    if sink is None or not os.path.isdir(sink):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type")
        t0_ms, t1_ms = ev.select(
            F.min(F.unix_millis("ts")),
            F.max(F.unix_millis("ts"))).first()
        work = tempfile.mkdtemp(prefix="scd2_stream_replay_")
        base = _time.time() - 1000
        write_replay_buckets(ev, "ts", f"{work}/in", 3, t0_ms,
                             t1_ms - t0_ms + 1, base,
                             ["user_id", "event_id"])
        src = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        sink = run_to_parquet_sink(streaming_scd2(src), f"{work}/out",
                                   f"{work}/ckpt")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
        _SCD2_REPLAY_SINKS[cache_key] = sink
    return read_replay_sink(spark, sink).select(
        "user_id", "version", "attr", "valid_from_ms", "valid_to_ms",
        "is_current")


QUERIES["scd2_stream_replay"] = q_scd2_stream_replay

ORACLE["scd2_stream_replay"] = f"""
SELECT * FROM ({ORACLE["scd2_history"]})
WHERE NOT is_current
"""


# ---- weight-of-evidence / information-value feature report -----------------

WOE_ACTIVE_FROM = "2000-08-01"  # "active" = ordered in the final year


def q_feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value report: customer account
    balance cut into rank deciles (exact row_number cut, custkey
    tie-break — never an approximate ntile) scored against the
    'active in the final year' label — the feature-screening table a
    scoring model is fed from. Counts are exact integers; shares are
    floor-quantized at 9 before the log so both engines take ln() of
    the IDENTICAL double; woe/iv round at 6 (house convention, same
    as every fx log-return lane). Degenerate one-class deciles emit
    NULL woe rather than ±inf.

    Shape: one distinct semi-join for the label (broadcast — active
    customers are a dim-sized set), one global-rank window over the
    customer dim, one decile aggregate. The global sort is over the
    CUSTOMER DIM, not a fact table — the value_ks_test-style bounded
    sort."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    active = (orders.where(F.col("o_orderdate") >= WOE_ACTIVE_FROM)
              .select(F.col("o_custkey").alias("c_custkey")).distinct())
    lab = (customer.select("c_custkey", "c_acctbal")
           .join(F.broadcast(active.withColumn("pos", F.lit(1))),
                 "c_custkey", "left")
           .select("c_custkey", "c_acctbal",
                   F.coalesce(F.col("pos"), F.lit(0)).alias("pos")))
    wr = Window.orderBy("c_acctbal", "c_custkey")
    ranked = lab.select(
        "pos",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy()).alias("n_all"))
    decile = F.least(F.floor((F.col("rn") - 1) * 10 / F.col("n_all")),
                     F.lit(9)).cast("long")
    g = (ranked.groupBy(decile.alias("decile"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("pos").cast("long").alias("n_pos")))
    tot = g.agg(F.sum("n_pos").alias("t_pos"),
                F.sum(F.col("n") - F.col("n_pos")).alias("t_neg"))
    j = g.crossJoin(F.broadcast(tot))
    # Operation order must match the oracle EXACTLY: floor(x*1e9/y)/1e9
    # — one float rounding, same as DuckDB's floor(n*1e9/t). The earlier
    # floor((x/y)*1e9) did two roundings, so a share within 1 ulp of the
    # 1e-9 lattice could floor differently between the engines.
    f9 = lambda num, den: F.floor(num * 1e9 / den) / 1e9  # noqa: E731
    ps = f9(F.col("n_pos"), F.col("t_pos"))
    ns = f9(F.col("n") - F.col("n_pos"), F.col("t_neg"))
    woe = F.when((F.col("n_pos") > 0)
                 & (F.col("n") - F.col("n_pos") > 0),
                 F.log(ps / ns))
    return j.select(
        "decile", "n", "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.round(woe, 6).alias("woe"),
        F.round((ps - ns) * woe, 6).alias("iv_term"))


QUERIES["feature_woe_iv"] = q_feature_woe_iv

ORACLE["feature_woe_iv"] = f"""
WITH active AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_orderdate >= DATE '{WOE_ACTIVE_FROM}'
),
lab AS (
  SELECT c.c_custkey, c.c_acctbal,
         CASE WHEN a.c_custkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM customer c LEFT JOIN active a USING (c_custkey)
),
ranked AS (
  SELECT pos,
         row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn,
         count(*) OVER () AS n_all
  FROM lab
),
g AS (
  SELECT CAST(least((rn - 1) * 10 // n_all, 9) AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM ranked GROUP BY 1
),
tot AS (SELECT sum(n_pos) AS t_pos, sum(n - n_pos) AS t_neg FROM g)
SELECT decile, n, n_pos, n - n_pos AS n_neg,
       round(CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
         ln((floor(n_pos * 1e9 / t_pos) / 1e9)
            / (floor((n - n_pos) * 1e9 / t_neg) / 1e9)) END, 6) AS woe,
       round((floor(n_pos * 1e9 / t_pos) / 1e9
              - floor((n - n_pos) * 1e9 / t_neg) / 1e9)
             * CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
                 ln((floor(n_pos * 1e9 / t_pos) / 1e9)
                    / (floor((n - n_pos) * 1e9 / t_neg) / 1e9)) END,
             6) AS iv_term
FROM g, tot
"""


# ---- supplier ship-lag quantiles --------------------------------------------


def q_ship_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational lead-time report: per supplier nation, exact
    interpolated median / p90 of the order-to-ship lag in days — the
    SLA table a fulfillment dashboard is built on. Lags are exact
    integer day differences; quantiles use the exact interpolated
    percentile on both engines (percentile / quantile_cont), rounded
    at 6 — the fx_vol_regimes discipline. One fact join (order date
    attached), one per-nation aggregate over a 25-row group space."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    j = (li.join(orders.select("o_orderkey", "o_orderdate"),
                 li.l_orderkey == F.col("o_orderkey"))
         .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
               li.l_suppkey == F.col("s_suppkey"))
         .join(F.broadcast(nation.select("n_nationkey", "n_name")),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select(F.col("n_name").alias("nation"),
                 lag.cast("double").alias("lag_days")))
    return (j.groupBy("nation")
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.round(F.expr("percentile(lag_days, 0.5)"), 6)
                 .alias("median_lag"),
                 F.round(F.expr("percentile(lag_days, 0.9)"), 6)
                 .alias("p90_lag"),
                 F.max("lag_days").cast("long").alias("max_lag")))


QUERIES["ship_lag_quantiles"] = q_ship_lag_quantiles

ORACLE["ship_lag_quantiles"] = """
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(quantile_cont(datediff('day', o.o_orderdate,
                                    l.l_shipdate)::DOUBLE, 0.5), 6)
         AS median_lag,
       round(quantile_cont(datediff('day', o.o_orderdate,
                                    l.l_shipdate)::DOUBLE, 0.9), 6)
         AS p90_lag,
       CAST(max(datediff('day', o.o_orderdate, l.l_shipdate))
            AS BIGINT) AS max_lag
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


# ---- cohort lifetime value ---------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue accumulated by months-since-first-order — the
    companion to cohort_retention that prices a cohort instead of
    counting it. Cohort/age arithmetic is exact integer month
    indices; money is exact integer cents summed as BIGINT; the
    per-customer LTV ratio floor-quantizes at 6. Shape: one
    per-customer min (first order), broadcast back, one
    (cohort, age) aggregate, one cumulative window per cohort over a
    months x months frame."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
    first = (orders.groupBy("o_custkey")
             .agg(F.min(mi).alias("cohort_mi")))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    j = (orders.select("o_custkey", mi.alias("mi"),
                       cents.alias("cents"))
         .join(first, "o_custkey"))
    g = (j.groupBy(F.col("cohort_mi"),
                   (F.col("mi") - F.col("cohort_mi")).alias("age_months"))
         .agg(F.countDistinct("o_custkey").cast("long")
              .alias("n_active"),
              F.sum("cents").alias("cents")))
    size = (first.groupBy("cohort_mi")
            .agg(F.count(F.lit(1)).cast("long").alias("cohort_size")))
    wc = (Window.partitionBy("cohort_mi").orderBy("age_months")
          .rowsBetween(Window.unboundedPreceding, 0))
    out = (g.join(F.broadcast(size), "cohort_mi")
           .withColumn("cum_cents", F.sum("cents").over(wc)))
    cohort_label = F.concat(
        F.floor(F.col("cohort_mi") / 12).cast("string"), F.lit("-"),
        F.lpad((F.col("cohort_mi") % 12 + 1).cast("string"), 2, "0"))
    return out.select(
        cohort_label.alias("cohort_month"),
        "age_months", "n_active", "cohort_size",
        F.col("cum_cents").cast("long").alias("cum_cents"),
        (F.floor(F.col("cum_cents") / F.col("cohort_size") / 100
                 * 1_000_000) / 1_000_000).alias("ltv_per_customer"))


QUERIES["cohort_ltv"] = q_cohort_ltv

ORACLE["cohort_ltv"] = """
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
first AS (SELECT o_custkey, min(mi) AS cohort_mi FROM o GROUP BY 1),
sz AS (SELECT cohort_mi, CAST(count(*) AS BIGINT) AS cohort_size
       FROM first GROUP BY 1),
g AS (
  SELECT f.cohort_mi, o.mi - f.cohort_mi AS age_months,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
         sum(o.cents) AS cents
  FROM o JOIN first f USING (o_custkey)
  GROUP BY 1, 2
),
cum AS (
  SELECT g.*, sz.cohort_size,
         sum(g.cents) OVER (PARTITION BY g.cohort_mi
                            ORDER BY g.age_months
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_cents
  FROM g JOIN sz USING (cohort_mi)
)
SELECT CAST(cohort_mi // 12 AS VARCHAR) || '-' ||
         lpad(CAST(cohort_mi % 12 + 1 AS VARCHAR), 2, '0')
         AS cohort_month,
       age_months, n_active, cohort_size,
       CAST(cum_cents AS BIGINT) AS cum_cents,
       floor(cum_cents * 1.0 / cohort_size / 100 * 1000000) / 1000000
         AS ltv_per_customer
FROM cum
"""


def q_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity score: per user, the Shannon entropy of
    their event-type distribution (0 = single-behavior user, ln(k) =
    uniform across k types) — the engagement-mix feature a churn or
    segmentation model consumes. Counts are exact integers; each
    share floor-quantizes at 9 BEFORE the log (both engines take
    ln() of the identical double — the feature_woe_iv discipline);
    the final entropy rounds at 6. Shape: one (user, type) count,
    one per-user aggregate — two map-side-combinable shuffles."""
    ev = load_table(spark, sf_dir, "events")
    g = (ev.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = (g.groupBy("user_id")
           .agg(F.sum("c").alias("n"),
                F.count(F.lit(1)).cast("long").alias("n_types")))
    # Same single-rounding discipline as feature_woe_iv: c*1e9/n, one
    # float divide, matching the oracle's floor(g.c * 1e9 / t.n) exactly.
    p = F.floor(F.col("c") * 1e9 / F.col("n")) / 1e9
    term = F.round(-p * F.log(p), 9)
    return (g.join(tot, "user_id")
            .groupBy("user_id")
            .agg(F.max("n").cast("long").alias("n_events"),
                 F.max("n_types").alias("n_types"),
                 F.round(F.sum(term), 6).alias("entropy")))


QUERIES["user_event_entropy"] = q_user_event_entropy

ORACLE["user_event_entropy"] = """
WITH g AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT user_id, sum(c) AS n, CAST(count(*) AS BIGINT) AS n_types
  FROM g GROUP BY 1
)
SELECT g.user_id,
       CAST(max(t.n) AS BIGINT) AS n_events,
       max(t.n_types) AS n_types,
       round(sum(round(-(floor(g.c * 1e9 / t.n) / 1e9)
                       * ln(floor(g.c * 1e9 / t.n) / 1e9), 9)), 6)
         AS entropy
FROM g JOIN tot t USING (user_id)
GROUP BY g.user_id
"""


# ---- walk-forward forecast backtest ----------------------------------------


def q_walk_forward_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (walk-forward) evaluation of the linear revenue
    forecaster: for every month, fit OLS revenue-vs-month-index on all
    PRIOR months only, predict the current month, and report prediction
    vs actual with the absolute percentage error — the honest way to
    score a forecaster (the one-shot `value_trend_ols` fit sees its own
    test data; this never does).

    Exactness: monthly revenue is summed as integer CENTS, and the
    expanding-window OLS moments (n, Sx, Sy, Sxy, Sx2) are integer
    window sums over those cents — IDENTICAL integers on both engines.
    The slope numerator n·Sxy − Sx·Sy is formed in DOUBLES (each moment
    cast first, mirrored in the oracle): in int64 it would overflow
    around sf≥100 (Sxy ~1e17 cents·month ⇒ n·Sxy > 2^63), where Spark's
    non-ANSI wrap would be silently wrong. Casting first keeps both
    engines on the same IEEE operations in the same order (conversions
    are exact below 2^53 and round identically above), so the 6-dp
    floor quantization still matches bit-for-bit.

    Scale: the expanding window runs over the AGGREGATED month frame
    (cardinality = months, dozens), not over orders — the single
    unpartitioned window is a deliberate one-task pass over a tiny
    frame, downstream of one map-side-combinable month aggregate."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rev_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    monthly = (orders.groupBy(F.trunc("o_orderdate", "month")
                              .alias("month"))
               .agg(F.sum(rev_cents).alias("y")))
    w_ord = Window.orderBy("month")
    m = monthly.select(
        F.date_format("month", "yyyy-MM").alias("ym"),
        F.row_number().over(w_ord).cast("long").alias("x"),
        "y")
    wexp = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    n = F.count(F.lit(1)).over(wexp)
    sx = F.sum("x").over(wexp)
    sy = F.sum("y").over(wexp)
    sxy = F.sum(F.col("x") * F.col("y")).over(wexp)
    sx2 = F.sum(F.col("x") * F.col("x")).over(wexp)
    f = m.select("ym", "x", "y", n.alias("n"), sx.alias("sx"),
                 sy.alias("sy"), sxy.alias("sxy"), sx2.alias("sx2"))
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    # den stays int64 (x is a month index: Sx2 <= months^3, tiny); the
    # numerator multiplies cent-scale moments and must be double-first
    b = ((F.col("n").cast("double") * F.col("sxy").cast("double")
          - F.col("sx").cast("double") * F.col("sy").cast("double"))
         / den)
    a = (F.col("sy") - b * F.col("sx")) / F.col("n")
    pred = a + b * F.col("x")
    fq6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (f.where((F.col("n") >= 3) & (den != 0))
            .select(
                "ym",
                (F.col("y") / 100).alias("actual"),
                fq6(pred / 100).alias("predicted"),
                fq6(F.abs(pred - F.col("y")) / F.col("y")).alias("ape")))


QUERIES["walk_forward_forecast"] = q_walk_forward_forecast

ORACLE["walk_forward_forecast"] = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
m AS (
  SELECT strftime(month, '%Y-%m') AS ym,
         CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS x, y
  FROM monthly
),
f AS (
  SELECT ym, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx,
         sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sx2
  FROM m
  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING)
),
p AS (
  SELECT ym, y, x, n, sx, sy,
         n * sx2 - sx * sx AS den,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (n * sx2 - sx * sx) AS b
  FROM f WHERE n >= 3 AND n * sx2 - sx * sx <> 0
),
q AS (
  SELECT ym, y,
         (sy - b * sx) / n + b * x AS pred
  FROM p
)
SELECT ym, y / 100.0 AS actual,
       floor(pred / 100.0 * 1000000) / 1000000 AS predicted,
       floor(abs(pred - y) / y * 1000000) / 1000000 AS ape
FROM q
"""


# ---- out-of-order funnel: the reorder stage, driver-gated ----------------


def q_funnel_ooo_stream_replay(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The ordered funnel behind the reorder stage against a replay
    that BREAKS the cross-batch order contract (md5-carved ~1/8 of
    every time bucket's events displaced one micro-batch late). The
    funnel stage machine is the sharpest order probe of the fold
    family: a view arriving after its click has already streamed
    would, unbuffered, silently LOSE the conversion (a click only
    counts strictly after the first view) — no hash noise, a missing
    user. The reorder stage buffers and folds every event in exact
    event-time order; the resolve takes each user's LATEST cursor
    snapshot (max asof_ms) and aggregates to the batch query's
    (stage, n_users) shape, hash-matched against the SAME oracle as
    the batch `funnel_conversion`. Building this query RUNS the
    stream (laziness-guard exempt)."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.queries.fx import _ooo_fold_replay
    from data_timeseries_java_spark.streaming.reorder import (
        reordered_funnel,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    snaps = _ooo_fold_replay(
        spark, sf_dir, "funnel", ev,
        lambda src, wm: reordered_funnel(src, watermark=wm),
        lambda: [F.lit("view").alias("event_type")])
    w = Window.partitionBy("user_id").orderBy(F.desc("asof_ms"))
    latest = (snaps.where(F.col("user_id") >= 0)
              .withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1))
    stages = [
        ("1_view", F.col("t_view").isNotNull()),
        ("2_click_after_view", F.col("t_click").isNotNull()),
        ("3_purchase_after_click", F.col("t_purchase").isNotNull()),
    ]
    out = None
    for name, cond in stages:
        row = (latest.where(cond)
               .agg(F.count(F.lit(1)).alias("n_users"))
               .select(F.lit(name).alias("stage"), "n_users"))
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["funnel_ooo_stream_replay"] = q_funnel_ooo_stream_replay

ORACLE["funnel_ooo_stream_replay"] = ORACLE["funnel_conversion"]
