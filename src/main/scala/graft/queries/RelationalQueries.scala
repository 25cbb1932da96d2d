package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Relational and join queries (SURVEY §2.4) and time series over
  * `events` (the assignment-6 family). Scan-light: the wide split. */
private[queries] object RelationalQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.light)(
    QuerySpec("q1_pricing", (s, dir) =>
      RelationalOps.pricingSummary(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q_revenue_by_nation", (s, dir) =>
      RelationalOps.revenueByNation(s, dir),
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    QuerySpec("q_top_customers", (s, dir) =>
      RelationalOps.topCustomers(s, dir, k = 10),
      """SELECT c_custkey, c_name, c_mktsegment,
        |       round(sum(o_totalprice), 2) AS total_spent,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY total_spent DESC, c_custkey ASC LIMIT 10""".stripMargin),
    QuerySpec("q_segments_with_orders", (s, dir) =>
      RelationalOps.segmentsWithOrders(s, dir),
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),
    QuerySpec("q_customers_without_orders", (s, dir) =>
      RelationalOps.customersWithoutOrders(s, dir),
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),
    // as-of join (operator Spark lacks): every event gets the user's most
    // recent purchase value at or before its timestamp; verified against
    // DuckDB's NATIVE ASOF LEFT JOIN
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      JoinOps.asofJoinBackward(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", "ts", Seq("purchase_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("purchase_value"), 6).as("purchase_value"))
    },
      """WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |       round(p.purchase_value, 6) AS purchase_value
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),
    // forward as-of: every event gets the user's NEXT purchase at or after
    // its timestamp; verified against DuckDB's native forward ASOF
    QuerySpec("q_asof_forward", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      JoinOps.asofJoinForward(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", "ts", Seq("purchase_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("purchase_value"), 6).as("purchase_value"))
    },
      """WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |       round(p.purchase_value, 6) AS purchase_value
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts <= p.ts""".stripMargin),
    // bucketized range join: points to containing [lo, hi] intervals as a
    // plain equi-join on buckets (the naive range condition plans as an
    // O(n*m) BroadcastNestedLoopJoin)
    QuerySpec("q_range_join", (s, dir) => {
      val ev = events(s, dir)
      val points = ev.select(col("event_id"), col("value"))
      val intervals = ev
        .where(col("user_id") < 30 && col("event_type") === "purchase")
        .select(col("event_id").as("interval_id"),
          col("value").as("lo"), (col("value") + lit(25.0)).as("hi"))
      JoinOps.rangeJoin(points, "value", intervals, "lo", "hi",
        bucketWidth = 25.0)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_points"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))
    },
      """WITH p AS (SELECT event_id, value FROM events),
        |i AS (SELECT event_id AS interval_id, value AS lo, value + 25.0 AS hi
        |      FROM events WHERE user_id < 30 AND event_type = 'purchase')
        |SELECT interval_id, count(*) AS n_points,
        |  round(min(p.value), 6) AS min_v, round(max(p.value), 6) AS max_v
        |FROM p JOIN i ON p.value >= i.lo AND p.value <= i.hi
        |GROUP BY interval_id""".stripMargin),
    // grouping sets: per-nation, per-region subtotal and grand total in one agg
    QuerySpec("q_rollup_revenue", (s, dir) =>
      RelationalOps.revenueRollup(s, dir),
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items,
        |  GROUPING(r_name) * 2 + GROUPING(n_name) AS lvl
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),
    // pivot with explicit values (no discovery job at scale)
    QuerySpec("q_pivot_daily", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = TimeSeriesOps.dailyTypePivot(events(s, dir), "ts", "event_type", types)
      p.select(col("m") +: col("d") +:
        types.map(t => coalesce(col(s"`$t`"), lit(0L)).as(t)): _*)
    },
      """SELECT month(ts) AS m, day(ts) AS d,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1, 2""".stripMargin),
    // two-stage salted exact distinct (hot-key mitigation) must equal the
    // plain count distinct — proven against the oracle, not just in-process
    QuerySpec("q_salted_distinct", (s, dir) =>
      SkewOps.saltedCountDistinct(
        events(s, dir).select(col("event_type"), col("user_id")),
        "event_type", "user_id", salts = 16),
      """SELECT event_type, count(DISTINCT user_id) AS user_id_distinct
        |FROM events GROUP BY event_type""".stripMargin),
    // co-located join: both sides bucketed on the join key at WRITE time,
    // so the repeated join needs no exchange at read (BucketingSpec proves
    // the shuffle-free plan; this gate hash-verifies the result). The
    // pre-paid shuffle is the 100 TB answer to a dimension too big to
    // broadcast that is joined on every query.
    QuerySpec("q_bucketed_join", (s, dir) => {
      val wh = scratchDir("graft-bk")
      s.sql("DROP TABLE IF EXISTS graft_bk_orders")
      s.sql("DROP TABLE IF EXISTS graft_bk_customer")
      Tables.orders(s, dir).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders").saveAsTable("graft_bk_orders")
      Tables.customer(s, dir).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer").saveAsTable("graft_bk_customer")
      s.table("graft_bk_orders")
        .join(s.table("graft_bk_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
    // window frames: rolling stats over the trailing 4 events per user
    QuerySpec("q_rolling", (s, dir) =>
      TimeSeriesOps.rollingStats(
        events(s, dir).select(col("user_id"), col("event_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", "value", frame = 4),
      """SELECT user_id, event_id,
        |  round(avg(value) OVER w, 6) AS roll_avg,
        |  round(max(value) OVER w, 6) AS roll_max,
        |  count(*) OVER w AS roll_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin),
    // recency-weighted features: exponentially decayed per-type sums,
    // anchored at the corpus max timestamp (one driver scalar)
    QuerySpec("q_decayed", (s, dir) => {
      val ev = events(s, dir)
      val ref = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      TimeSeriesOps.timeDecayedSum(ev, "event_type", "ts", "value",
        halfLifeMinutes = 60 * 24, refEpochUs = ref)
    },
      """WITH r AS (SELECT max(epoch_us(ts)) AS ref FROM events)
        |SELECT event_type, count(*) AS n,
        |  round(sum(value * exp(-ln(2) / (1440 * 60000000.0)
        |    * (ref - epoch_us(ts)))), 6) AS decayed_sum,
        |  round(sum(exp(-ln(2) / (1440 * 60000000.0)
        |    * (ref - epoch_us(ts)))), 6) AS decayed_count
        |FROM events CROSS JOIN r GROUP BY event_type""".stripMargin),
    QuerySpec("q_sessionize", (s, dir) =>
      TimeSeriesOps.sessionize(
        events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
        "user_id", "ts", gapMinutes = 30)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us")),
      """WITH w AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |n AS (SELECT user_id, ts,
        |  CASE WHEN prev_ts IS NULL
        |         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
        |       ELSE 0 END AS ns
        |  FROM w),
        |s AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM n)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       count(*) AS n_events,
        |       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM s GROUP BY user_id, session_id""".stripMargin),
    QuerySpec("q_hourly_counts", (s, dir) =>
      TimeSeriesOps.hourlyCounts(events(s, dir), "ts"),
      """SELECT month(ts) AS m, day(ts) AS d, hour(ts) AS h, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin),
    QuerySpec("q_hourly_filtered", (s, dir) =>
      TimeSeriesOps.hourlyCountsFiltered(events(s, dir), "ts",
        "event_type", "(?i)(click|view)"),
      """SELECT month(ts) AS m, day(ts) AS d, hour(ts) AS h, count(*) AS cnt
        |FROM events WHERE regexp_matches(event_type, '(?i)(click|view)')
        |GROUP BY 1, 2, 3""".stripMargin),
    QuerySpec("q_topk_per_type", (s, dir) =>
      TimeSeriesOps.topKPerGroup(
        events(s, dir).select(col("event_type"), col("event_id"), col("value")),
        "event_type", "value", "event_id", k = 3),
      """SELECT event_type, event_id, value, rn FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin),
    // full SQL window-function surface in one query: offsets (lag/lead),
    // ranking (rank/row_number), distribution (percent_rank), bucketing
    // (ntile) — ONE partition pass serves all of them
    QuerySpec("q_window_suite", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).where(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val wv = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id").asc)
      ev.select(col("user_id"), col("event_id"),
        round(lag("value", 1).over(w), 6).as("prev_value"),
        round(lead("value", 1).over(w), 6).as("next_value"),
        rank().over(wv).as("value_rank"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        row_number().over(w).as("rn"))
    },
      """SELECT user_id, event_id,
        |  round(lag(value, 1) OVER w, 6) AS prev_value,
        |  round(lead(value, 1) OVER w, 6) AS next_value,
        |  rank() OVER (PARTITION BY user_id
        |               ORDER BY value DESC, event_id ASC) AS value_rank,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  row_number() OVER w AS rn
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |      FROM events WHERE user_id < 50)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)""".stripMargin),
    // distribution stats per event type: exact interpolated quantiles
    // (Spark percentile == DuckDB quantile_cont, linear interpolation)
    QuerySpec("q_value_stats", (s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg(col("value")), 6).as("mean"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(min(col("value")), 6).as("vmin"),
          round(max(col("value")), 6).as("vmax")),
      """SELECT event_type, count(*) AS n,
        |  round(avg(value), 6) AS mean,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
        |FROM events GROUP BY event_type""".stripMargin),
  )
}
