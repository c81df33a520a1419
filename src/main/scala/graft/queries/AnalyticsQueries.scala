package graft.queries

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Event/feature analytics extensions: ordered funnel conversion,
  * quantile feature binning, and dynamic partition pruning — the three
  * analysis shapes a corpus/telemetry pipeline runs constantly.
  */
object AnalyticsQueries {

  val all: Seq[QueryDef] = Seq(
    // ordered funnel: first-view → first-click-after-view →
    // first-purchase-after-click per user; one groupBy(user) with
    // conditional min aggregates — no window, no self-join, fully
    // partial-aggregating (the 100 TB funnel shape)
    QueryDef(
      "funnel_conversion",
      """WITH s AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |FROM events GROUP BY user_id)
        |SELECT CASE
        |    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
        |      AND t_click > t_view AND t_purchase > t_click THEN 3
        |    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view THEN 2
        |    WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |  count(*) AS n_users
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val tus = expr("ts div 1000")
      Tables.table(s, d, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", tus)).as("t_view"),
          min(when(col("event_type") === "click", tus)).as("t_click"),
          min(when(col("event_type") === "purchase", tus)).as("t_purchase"))
        .select(
          when(col("t_view").isNotNull && col("t_click").isNotNull &&
              col("t_purchase").isNotNull &&
              col("t_click") > col("t_view") && col("t_purchase") > col("t_click"), 3)
            .when(col("t_view").isNotNull && col("t_click").isNotNull &&
              col("t_click") > col("t_view"), 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0).as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
    },
    // quantile feature binning: percentile_disc boundaries (actual data
    // values — exact-deterministic on both engines, no interpolation)
    // broadcast against the fact rows; one pass + a 1-row broadcast
    QueryDef(
      "feature_binning",
      """WITH b AS (SELECT quantile_disc(o_totalprice, 0.25) AS q1,
        |  quantile_disc(o_totalprice, 0.5) AS q2,
        |  quantile_disc(o_totalprice, 0.75) AS q3 FROM orders)
        |SELECT 1 + CAST(o_totalprice > q1 AS INT) + CAST(o_totalprice > q2 AS INT)
        |    + CAST(o_totalprice > q3 AS INT) AS bin,
        |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders, b GROUP BY 1""".stripMargin) { (s, d) =>
      val o = Tables.table(s, d, "orders")
      val b = o.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("q1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("q2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("q3"))
      o.join(broadcast(b), lit(true))
        .select((lit(1) + (col("o_totalprice") > col("q1")).cast("int")
          + (col("o_totalprice") > col("q2")).cast("int")
          + (col("o_totalprice") > col("q3")).cast("int")).as("bin"),
          col("o_totalprice"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    },
    // dynamic partition pruning: year-partitioned fact joined to a
    // selectively-filtered dim — Catalyst injects the dim's year set as
    // a runtime partition filter on the fact scan, so only 1997's
    // directories are read (plan-asserted in ScaleSpec); at 100 TB this
    // is the difference between scanning one partition and all of them
    QueryDef(
      "join_dpp",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) IN (
        |  SELECT year(l_shipdate) FROM lineitem GROUP BY 1 HAVING min(l_orderkey) % 2 = 0)
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_dpp_rt")
      val orders = Tables.table(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      orders.write.mode("overwrite").partitionBy("o_year").parquet(tmp)
      // partition columns come back last, so the written schema is the
      // read-back schema as it stands
      val fact = Tables.readStage(s, tmp, orders.schema)
      // the dim's year set is AGGREGATE-derived (years whose min order
      // key is even) — deliberately not constant-foldable, so the
      // optimizer cannot turn it into a static partition filter and
      // must inject a DYNAMIC pruning subquery on the fact scan
      val dim = Tables.table(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("y"))
        .agg(min(col("l_orderkey")).as("mk"))
        .filter(col("mk") % 2 === 0)
        .select("y")
      fact.join(dim, fact("o_year") === dim("y"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },
    // peak concurrency per event type (sweep line over 30-minute
    // activity intervals): the oracle is the textbook single-window
    // form; the engine runs [[Intervals.maxConcurrency]]'s distributed
    // two-pass prefix sum — no per-group single-task window
    QueryDef(
      "events_concurrency",
      """WITH pts AS (
        |  SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, epoch_us(ts) + 1800000000 AS t, -1 FROM events),
        |run AS (
        |  SELECT event_type, CAST(sum(delta) OVER (PARTITION BY event_type
        |    ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        |  FROM pts)
        |SELECT event_type, max(c) AS max_concurrent FROM run GROUP BY event_type""".stripMargin) { (s, d) =>
      val e = Tables.table(s, d, "events")
        .select(col("event_type"), expr("ts div 1000").as("tus"))
      graft.operators.Intervals.maxConcurrency(e, col("event_type"),
        col("tus"), col("tus") + 1800000000L)
    },
    // time-series gap fill: per-user daily rollup densified onto the
    // full day grid with forward-filled values (Intervals.forwardFillGrid
    // — per-key window, output-proportional grid, no driver work)
    QueryDef(
      "events_gap_fill",
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(range(min(day), max(day) + 1)) AS day
        |  FROM daily GROUP BY user_id),
        |j AS (
        |  SELECT g.user_id, g.day, d.v, coalesce(d.n_events, 0) AS n_events,
        |    d.v IS NULL AS is_gap
        |  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  n_events, is_gap
        |FROM j""".stripMargin) { (s, d) =>
      val daily = Tables.table(s, d, "events")
        .groupBy(col("user_id"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"),
          count(lit(1)).as("n_events"))
      graft.operators.Intervals.forwardFillGrid(daily, "user_id", "day", "v")
        .select(col("user_id"), col("day"), col("v_filled"),
          coalesce(col("n_events"), lit(0L)).as("n_events"), col("is_gap"))
    },
    // sliding-window event rate (10-minute windows every 5 minutes) via
    // Spark's `window()` bucketing; the oracle re-derives the window
    // assignment with integer epoch-microsecond arithmetic (each event
    // lands in exactly dur/slide = 2 windows), pinning Spark's
    // alignment semantics rather than trusting them
    QueryDef(
      "events_sliding_rate",
      """WITH e AS (SELECT epoch_us(ts) AS tus, value FROM events),
        |w AS (SELECT (tus // 300000000) * 300000000 - k * 300000000 AS wstart, value
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS k))
        |SELECT wstart AS wstart_us, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM w GROUP BY wstart""".stripMargin) { (s, d) =>
      Tables.table(s, d, "events")
        .withColumn("t", expr("timestamp_micros(ts div 1000)"))
        .groupBy(window(col("t"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .select(unix_micros(col("w.start")).as("wstart_us"), col("n"), col("total"))
    },
    // cohort retention matrix: users grouped by first-activity week,
    // counted per subsequent week offset — the standard product-
    // analytics rollup. Two grouped aggregations on bounded keys; week
    // arithmetic is integer epoch division shared with the oracle.
    QueryDef(
      "events_retention",
      """WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY user_id)
        |SELECT c.cohort, w.wk - c.cohort AS week_offset,
        |  count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN c ON w.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val w = Tables.table(s, d, "events")
        .select(col("user_id"), expr("ts div 1000 div 604800000000").as("wk"))
      val c = w.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      w.join(c, Seq("user_id"))
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    },
    // per-user least-squares value trend (Intervals.trendSlope): exact
    // decimal sums, one double division — the per-entity drift detector
    QueryDef(
      "events_trend_slope",
      """WITH b AS (SELECT user_id AS k, epoch_us(ts) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y FROM events),
        |m AS (SELECT k, min(x) AS x0 FROM b GROUP BY k),
        |s AS (SELECT b.k, count(*) AS n,
        |    CAST(sum(CAST(b.x - m.x0 AS DECIMAL(19,0))) AS DOUBLE) AS sx,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(b.x - m.x0 AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(b.x - m.x0 AS DECIMAL(19,0)) * CAST(b.x - m.x0 AS DECIMAL(19,0))) AS DOUBLE) AS sxx
        |  FROM b JOIN m ON b.k = m.k GROUP BY b.k)
        |SELECT k AS grp, n,
        |  CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
        |    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 3600000000, 6)
        |  END AS slope_hr
        |FROM s""".stripMargin) { (s, d) =>
      graft.operators.Intervals.trendSlope(
        Tables.table(s, d, "events"),
        col("user_id"), expr("ts div 1000"), col("value"))
    },
    // rolling per-user anomaly score: mean/variance over the last 10
    // events from DECIMAL-exact frame sums, z-score in double (both
    // engines evaluate the identical IEEE expression tree over identical
    // decimal-derived operands — bit-equal without rounding tricks)
    QueryDef(
      "events_rolling_zscore",
      """WITH f AS (
        |  SELECT event_id, user_id, value,
        |    count(*) OVER w AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS ssq
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, n,
        |  CASE WHEN n >= 5 AND (ssq - s * s / n) / (n - 1) > 0
        |    THEN (value - s / n) / sqrt((ssq - s * s / n) / (n - 1)) END AS z
        |FROM f""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(-9, 0)
      val dec = col("value").cast("decimal(18,2)")
      Tables.table(s, d, "events")
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(dec).over(w).cast("double"))
        .withColumn("ssq", sum(dec * dec).over(w).cast("double"))
        .select(col("event_id"), col("user_id"), col("n"),
          when(col("n") >= 5 &&
              (col("ssq") - col("s") * col("s") / col("n")) / (col("n") - 1) > 0,
            (col("value") - col("s") / col("n")) /
              sqrt((col("ssq") - col("s") * col("s") / col("n")) / (col("n") - 1)))
            .as("z"))
    },
    // last-touch attribution: each purchase attributed to the user's
    // most recent click within 7 days (Intervals.lastTouchAttribution —
    // one keyed sort, no per-pair join). The oracle is the quadratic
    // within-window argmax the engine never runs; equal-time-click ties
    // resolve to the smallest event id on both paths.
    QueryDef(
      "events_attribution",
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.event_id AS pe, p.user_id AS u, p.us AS pus, max(c.us) AS cus
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us AND c.us >= p.us - 604800000000
        |  GROUP BY 1, 2, 3)
        |SELECT m.pe AS conv_event, m.u AS user_id, m.pus AS conv_us,
        |  min(c2.event_id) AS touch_event, m.cus AS touch_us,
        |  CASE WHEN m.cus IS NOT NULL THEN m.pus - m.cus END AS lag_us
        |FROM m LEFT JOIN c c2 ON c2.user_id = m.u AND c2.us = m.cus
        |GROUP BY 1, 2, 3, 5, 6""".stripMargin) { (s, d) =>
      graft.operators.Intervals.lastTouchAttribution(
        Tables.table(s, d, "events"),
        col("user_id"), expr("ts div 1000"), col("event_id"),
        col("event_type"), "click", "purchase", 604800000000L)
    },
    // first-order Markov transition matrix over per-user event
    // sequences (Intervals.markovTransitions): one keyed sort, then a
    // |types|²-row matrix with integer-ppm row normalization
    QueryDef(
      "events_markov",
      """WITH o AS (SELECT user_id, event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |p AS (SELECT prev_type, next_type, count(*) AS n FROM o
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM p GROUP BY prev_type)
        |SELECT p.prev_type, p.next_type, p.n, (p.n * 1000000) // t.tot AS ppm
        |FROM p JOIN t ON p.prev_type = t.prev_type""".stripMargin) { (s, d) =>
      graft.operators.Intervals.markovTransitions(
        Tables.table(s, d, "events"),
        col("user_id"), expr("ts div 1000"), col("event_id"), col("event_type"))
    },
    // market-basket co-occurrence with exact integer-ppm lift: parts
    // co-ordered within the same order, the item-affinity primitive.
    // Scale shape: pair enumeration is a self-equi-join ON THE ORDER KEY
    // (one shuffle by orderkey; the within-order quadratic is bounded by
    // basket size, ≤7 in TPC-H — never parts×parts), part frequencies
    // and the scalar order count join in as broadcasts, and the top-k
    // is TakeOrdered with a total-order tie-break (n desc, part_a,
    // part_b). lift_ppm = n_pair·N_orders·10⁶ / (n_a·n_b) in exact
    // integer floor division — no float ratios to disagree on.
    QueryDef(
      "basket_part_pairs",
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM i),
        |f AS (SELECT l_partkey, count(*) AS n_part FROM i GROUP BY 1),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_pair
        |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, n_pair,
        |  (n_pair * n_orders * 1000000) // (fa.n_part * fb.n_part) AS lift_ppm
        |FROM p JOIN f fa ON fa.l_partkey = part_a JOIN f fb ON fb.l_partkey = part_b
        |CROSS JOIN n
        |ORDER BY n_pair DESC, part_a, part_b LIMIT 100""".stripMargin) { (s, d) =>
      val items = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val nOrders = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val partFreq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("n_pair"))
      pairs
        .join(broadcast(partFreq.select(col("l_partkey").as("part_a"),
          col("n_part").as("__na"))), Seq("part_a"))
        .join(broadcast(partFreq.select(col("l_partkey").as("part_b"),
          col("n_part").as("__nb"))), Seq("part_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_pair"),
          expr("(n_pair * n_orders * 1000000) div (__na * __nb)").as("lift_ppm"))
        .orderBy(col("n_pair").desc, col("part_a").asc, col("part_b").asc)
        .limit(100)
    },
    // OHLC time bars: per event-type per UTC day, the first/max/min/last
    // value — one groupBy with min_by/max_by picks (map-side partial
    // agg, no window sort, no self-join: the 100 TB bar-building shape).
    // open/close picks need a TOTAL order to be deterministic under
    // parallel aggregation: the zero-padded "micros:event_id" string is
    // one both engines sort identically (value is picked, never summed,
    // so doubles stay bit-exact)
    QueryDef(
      "events_ohlc",
      """SELECT event_type,
        |  epoch_us(date_trunc('day', ts)) AS day_us,
        |  arg_min(value, printf('%020d:%010d', epoch_us(ts), event_id)) AS open_v,
        |  max(value) AS high_v, min(value) AS low_v,
        |  arg_max(value, printf('%020d:%010d', epoch_us(ts), event_id)) AS close_v,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type, day_us""".stripMargin) { (s, d) =>
      graft.operators.Intervals.ohlcBars(Tables.table(s, d, "events"), col("event_type"),
          expr("ts div 1000"), col("event_id"), col("value"))
        .withColumnRenamed("bar_us", "day_us")
    },
    // CUSUM change detection on per-type daily volumes (Page 1954): the
    // clamped recursion S_t = max(0, S_{t−1} + d_t) is not
    // window-expressible, but its closed form IS — S_t = C_t −
    // min(0, min_{i≤t} C_i) for prefix sums C of the deviations — so
    // two ordered window passes over the PRE-AGGREGATED daily series
    // replace a sequential scan. Deviations are scaled integers
    // (x_t·D − T avoids the mean's division), so every value is exact
    // BIGINT arithmetic — order-proof and oracle-replayable. Scale
    // shape: the raw scan collapses map-side to one row per (type,
    // day); windows only ever sort each type's day series.
    QueryDef(
      "events_cusum",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |dev AS (SELECT event_type, day,
        |    x * (count(*) OVER (PARTITION BY event_type)) -
        |      (sum(x) OVER (PARTITION BY event_type)) AS d
        |  FROM daily),
        |pre AS (SELECT event_type, day,
        |    sum(d) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM dev)
        |SELECT event_type, day,
        |  CAST(c - least(0, min(c) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum
        |FROM pre""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.table(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val byType = Window.partitionBy(col("event_type"))
      val prefix = byType.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("d", col("x") * count(lit(1)).over(byType) - sum(col("x")).over(byType))
        .withColumn("c", sum(col("d")).over(prefix))
        .select(col("event_type"), col("day"),
          (col("c") - least(lit(0L), min(col("c")).over(prefix))).as("cusum"))
    },
    // EWMA smoothing (α = ½) of per-type daily volumes — CUSUM's
    // companion monitoring statistic. The recursion S_t = x_t + ½S_{t−1}
    // is evaluated as a LEFT FOLD over the 64-row trailing frame
    // (collect_list over the window, then `aggregate`): terms beyond 64
    // days decay under 2⁻⁶⁴ — below double ulp — so the truncation IS
    // the operator's declared semantics, the per-row cost is a bounded
    // 64-step fold (scale-safe: no unbounded prefix recursion), and
    // both engines run the identical IEEE op sequence over the
    // identically-ordered frame list — bit-equal, oracle-replayable.
    // Decay ticks per OBSERVED day-row; densify with the gap-fill
    // operator first for calendar-time decay.
    QueryDef(
      "events_ewma",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, day,
        |    list(CAST(x AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 63 PRECEDING AND CURRENT ROW) AS frame
        |  FROM daily)
        |SELECT event_type, day,
        |  round(list_reduce(list_prepend(0.0, frame), (a, b) -> b + 0.5 * a), 6) AS ewma
        |FROM f""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.table(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val frame = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-63, Window.currentRow)
      daily
        .withColumn("frame", collect_list(col("x").cast("double")).over(frame))
        .select(col("event_type"), col("day"),
          round(aggregate(col("frame"), lit(0.0),
            (acc, x) => x + acc * lit(0.5)), 6).as("ewma"))
    },
    // MATCH_RECOGNIZE-class sequence pattern matching, relationally:
    // each user's event history collapses to an ordered initial string
    // (c/e/p/s/v — all five types distinct on their first letter) and
    // the funnel pattern "view, then click, then purchase, with no
    // error anywhere between" is a regex counted non-overlapping
    // leftmost-first — identical semantics in Java regex and RE2 for
    // this subset (classes + star, no backrefs). Per-user work is one
    // ordered aggregate + one regex pass; no joins, no window.
    QueryDef(
      "events_sequence_pattern",
      """WITH s AS (SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, length(seq) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v[^e]*c[^e]*p')) AS INT) AS n_patterns
        |FROM s""".stripMargin) { (s, d) =>
      Tables.table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ini")))).as("evs"))
        .select(col("user_id"),
          array_join(expr("transform(evs, e -> e.ini)"), "").as("seq"))
        .select(col("user_id"), length(col("seq")).as("n_events"),
          regexp_count(col("seq"), lit("v[^e]*c[^e]*p")).as("n_patterns"))
    },
    // Holt's linear-trend double exponential smoothing (α = β = ½) of
    // the same per-type daily volumes — EWMA's trend-aware upgrade:
    //   l_t = αx_t + (1−α)(l_{t−1} + b_{t−1})
    //   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},  l₀ = x₀, b₀ = 0
    // evaluated as a left fold over the 64-row trailing frame with the
    // (level, trend) state as a 2-element DOUBLE ARRAY in BOTH engines.
    // Array state is deliberate: DuckDB 1.0's struct-building lambda
    // aliases the accumulator (the 'b' field expression observes the
    // already-updated 'l' — measured, off by 0.0625 on a 4-point
    // series), while list construction is atomic in both engines. All
    // inputs are counts and both coefficients are dyadic (½), so every
    // intermediate is an exact double — the fold is bit-equal across
    // engines by construction, not by rounding. Forecast = l + b (the
    // one-step-ahead point forecast).
    QueryDef(
      "events_holt_trend",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, day,
        |    list(CAST(x AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 63 PRECEDING AND CURRENT ROW) AS frame
        |  FROM daily),
        |st AS (SELECT event_type, day,
        |    list_reduce(list_transform(frame, x -> [x, CAST(0 AS DOUBLE)]),
        |      (acc, e) -> [0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
        |        0.5 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1]) + 0.5 * acc[2]]) AS s
        |  FROM f)
        |SELECT event_type, day, round(s[1], 6) AS level, round(s[2], 6) AS trend,
        |  round(s[1] + s[2], 6) AS forecast
        |FROM st""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.table(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val frame = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-63, Window.currentRow)
      daily
        .withColumn("frame", collect_list(col("x").cast("double")).over(frame))
        .withColumn("s", expr(
          """aggregate(
            |  slice(frame, 2, size(frame) - 1),
            |  array(element_at(frame, 1), CAST(0 AS DOUBLE)),
            |  (acc, x) -> array(
            |    0.5D * x + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
            |    0.5D * ((0.5D * x + 0.5D * (element_at(acc, 1) + element_at(acc, 2))) - element_at(acc, 1))
            |      + 0.5D * element_at(acc, 2)))""".stripMargin))
        .select(col("event_type"), col("day"),
          round(element_at(col("s"), 1), 6).as("level"),
          round(element_at(col("s"), 2), 6).as("trend"),
          round(element_at(col("s"), 1) + element_at(col("s"), 2), 6).as("forecast"))
    },
    // lag-1..3 autocorrelation of the per-type daily volume series —
    // the seasonality/burstiness diagnostic next to CUSUM and EWMA.
    // Deviations are scaled integers (n·x − Σx, the mean cleared of
    // its division), so every sum of products is an exact BIGINT; the
    // one double division per lag uses identical operands in both
    // engines. Denominator is the full-series sum of squared
    // deviations (the standard ACF normalization).
    QueryDef(
      "events_autocorr",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n, sum(x) AS sx FROM daily GROUP BY 1),
        |d AS (SELECT daily.event_type, day, CAST(n AS BIGINT) AS n,
        |    CAST(x * n - sx AS BIGINT) AS dev
        |  FROM daily JOIN st USING (event_type)),
        |l AS (SELECT event_type, n, dev,
        |    lead(dev, 1) OVER (PARTITION BY event_type ORDER BY day) AS dev1,
        |    lead(dev, 2) OVER (PARTITION BY event_type ORDER BY day) AS dev2,
        |    lead(dev, 3) OVER (PARTITION BY event_type ORDER BY day) AS dev3
        |  FROM d)
        |SELECT event_type, max(n) AS n_days,
        |  round(CAST(sum(dev * dev1) AS DOUBLE) / CAST(sum(dev * dev) AS DOUBLE), 6) AS acf1,
        |  round(CAST(sum(dev * dev2) AS DOUBLE) / CAST(sum(dev * dev) AS DOUBLE), 6) AS acf2,
        |  round(CAST(sum(dev * dev3) AS DOUBLE) / CAST(sum(dev * dev) AS DOUBLE), 6) AS acf3
        |FROM l GROUP BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.table(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val byType = Window.partitionBy(col("event_type"))
      val ordered = byType.orderBy(col("day"))
      val withDev = daily
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("dev", col("x") * col("n") - sum(col("x")).over(byType))
        .withColumn("dev1", lead(col("dev"), 1).over(ordered))
        .withColumn("dev2", lead(col("dev"), 2).over(ordered))
        .withColumn("dev3", lead(col("dev"), 3).over(ordered))
      def acf(devK: String, name: String) =
        round((sum(col("dev") * col(devK)).cast("double") /
          sum(col("dev") * col("dev")).cast("double")), 6).as(name)
      withDev.groupBy("event_type").agg(
        max(col("n")).as("n_days"),
        acf("dev1", "acf1"), acf("dev2", "acf2"), acf("dev3", "acf3"))
    },
    // day-of-week seasonality profile — the weekly-cycle companion to
    // the ACF: per (type, weekday), the mean daily volume relative to
    // the type's overall mean, in EXACT integer ppm (the one division
    // is a BIGINT floor-div of cross-multiplied sums — no float
    // anywhere). dow 0 = Sunday (epoch day 0 was a Thursday).
    QueryDef(
      "events_dow_seasonality",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, day, ((day + 4) % 7) AS dow, x FROM daily),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS days_total, CAST(sum(x) AS BIGINT) AS sum_total
        |  FROM d GROUP BY 1),
        |dw AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS days_dow, CAST(sum(x) AS BIGINT) AS sum_dow
        |  FROM d GROUP BY 1, 2)
        |SELECT dw.event_type, dw.dow, dw.days_dow, dw.sum_dow,
        |  CAST(dw.sum_dow * tot.days_total * 1000000 // (dw.days_dow * tot.sum_total) AS BIGINT) AS seasonal_ppm
        |FROM dw JOIN tot USING (event_type)""".stripMargin) { (s, d) =>
      val daily = Tables.table(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", (col("day") + 4) % 7)
      val tot = daily.groupBy("event_type").agg(
        count(lit(1)).as("days_total"), sum(col("x")).as("sum_total"))
      daily.groupBy("event_type", "dow").agg(
          count(lit(1)).as("days_dow"), sum(col("x")).as("sum_dow"))
        .join(tot, "event_type")
        .select(col("event_type"), col("dow"), col("days_dow"), col("sum_dow"),
          expr("sum_dow * days_total * 1000000 div (days_dow * sum_total)")
            .as("seasonal_ppm"))
    },
    // maximum drawdown of the per-type daily volume (largest peak-to-
    // trough decline — the health-monitoring dual of CUSUM's level
    // shift): running max window over exact BIGINT counts, ratio as a
    // cross-multiplied floor-div — pure integer ppm end to end
    QueryDef(
      "events_drawdown",
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, x,
        |    max(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM daily)
        |SELECT event_type,
        |  CAST(min(x * 1000000 // runmax) AS BIGINT) AS min_ratio_ppm,
        |  CAST(1000000 - min(x * 1000000 // runmax) AS BIGINT) AS max_drawdown_ppm
        |FROM r GROUP BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.table(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val run = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("runmax", max(col("x")).over(run))
        .withColumn("ratio", expr("x * 1000000 div runmax"))
        .groupBy("event_type")
        .agg(min(col("ratio")).as("min_ratio_ppm"),
          (lit(1000000L) - min(col("ratio"))).as("max_drawdown_ppm"))
    },
    // per-user behavioral diversity: Shannon entropy of each user's
    // event-type mix — the text_entropy recipe (integer-nano terms,
    // exact BIGINT sums) applied to categorical distributions; bots
    // concentrate near 0, organic users spread toward log2(5)
    QueryDef(
      "events_user_entropy",
      """WITH f AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS k FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, CAST(sum(k) AS BIGINT) AS n, count(*) AS nt FROM f GROUP BY 1),
        |term AS (SELECT f.user_id, n.nt,
        |    CAST(round(-(CAST(k AS DOUBLE) / n.n) * log2(CAST(k AS DOUBLE) / n.n) * 1000000000, 0) AS BIGINT) AS t
        |  FROM f JOIN n USING (user_id))
        |SELECT user_id, CAST(sum(t) AS BIGINT) AS entropy_nanos, max(nt) AS n_types
        |FROM term GROUP BY user_id""".stripMargin) { (s, d) =>
      val f = Tables.table(s, d, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("k"))
      val n = f.groupBy("user_id")
        .agg(sum(col("k")).as("n"), count(lit(1)).as("nt"))
      val p = col("k").cast("double") / col("n")
      f.join(n, "user_id")
        .select(col("user_id"), col("nt"),
          round(-p * log2(p) * 1000000000, 0).cast("long").as("t"))
        .groupBy("user_id")
        .agg(sum(col("t")).as("entropy_nanos"), max(col("nt")).as("n_types"))
    },
    // TIME-BOXED funnel: view → click within 1 day → purchase within
    // 7 days of the click (funnel_conversion's unbounded ordering
    // misses expiry semantics — real funnels window each step). Each
    // stage is an equi-join on user restricted to the window, min-
    // reduced — per-user work bounded by event counts, no pair blowup
    // beyond the per-user step candidates.
    QueryDef(
      "events_funnel_windowed",
      """WITH v AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM v GROUP BY 1),
        |s2 AS (SELECT s1.user_id, min(c.t) AS t2 FROM s1 JOIN c ON c.user_id = s1.user_id
        |  AND c.t >= s1.t1 AND c.t <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT s2.user_id, min(p.t) AS t3 FROM s2 JOIN p ON p.user_id = s2.user_id
        |  AND p.t >= s2.t2 AND p.t <= s2.t2 + 604800000000 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS n_step1,
        |  (SELECT count(*) FROM s2) AS n_step2,
        |  (SELECT count(*) FROM s3) AS n_step3""".stripMargin) { (s, d) =>
      val ev = Tables.table(s, d, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("t"))
      def stage(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id"), col("t"))
      val s1 = stage("view").groupBy("user_id").agg(min(col("t")).as("t1"))
      val s2 = s1.join(stage("click").withColumnRenamed("t", "ct"), "user_id")
        .where(col("ct") >= col("t1") && col("ct") <= col("t1") + 86400000000L)
        .groupBy("user_id").agg(min(col("ct")).as("t2"))
      val s3 = s2.join(stage("purchase").withColumnRenamed("t", "pt"), "user_id")
        .where(col("pt") >= col("t2") && col("pt") <= col("t2") + 604800000000L)
        .groupBy("user_id").agg(min(col("pt")).as("t3"))
      s1.agg(count(lit(1)).as("n_step1"))
        .crossJoin(s2.agg(count(lit(1)).as("n_step2")))
        .crossJoin(s3.agg(count(lit(1)).as("n_step3")))
    },
    // Welch two-sample t statistic per metric (experimentation
    // analytics): cohorts from the deterministic user-id hash split,
    // n/mean/variance from EXACT decimal raw sums (the agg_moments
    // recipe), one identical double formula per row in both engines —
    // the A/B readout a metrics pipeline emits
    QueryDef(
      "stats_welch_ttest",
      """WITH g AS (SELECT event_type,
        |    CASE WHEN (user_id * 2654435761) % 4294967296 % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
        |    CAST(value AS DECIMAL(9,2)) AS v
        |  FROM events),
        |s AS (SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS s1, sum(CAST(v * v AS DECIMAL(18,4))) AS s2
        |  FROM g GROUP BY 1, 2),
        |m AS (SELECT event_type, cohort, n,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n)) / nullif(n - 1, 0) AS var
        |  FROM s)
        |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |  round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
        |  round((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6) AS t_welch
        |FROM m a JOIN m b ON a.event_type = b.event_type
        |  AND a.cohort = 'A' AND b.cohort = 'B'""".stripMargin) { (s, d) =>
      val v = col("value").cast("decimal(9,2)")
      val g = Tables.table(s, d, "events").select(col("event_type"),
        when(graft.operators.CorpusOps.hash32(col("user_id")) % 2 === 0, "A")
          .otherwise("B").as("cohort"), v.as("v"))
      val sums = g.groupBy("event_type", "cohort").agg(
        count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum((col("v") * col("v")).cast("decimal(18,4)")).as("s2"))
      val s1d = col("s1").cast("double")
      // nullif-guard (ADVICE r5): a single-row cohort gives n−1 = 0 —
      // the variance (and t) is undefined; both engines emit NULL
      val m = sums.select(col("event_type"), col("cohort"), col("n"),
        (s1d / col("n")).as("mean"),
        ((col("s2").cast("double") - s1d * (s1d / col("n")))
          / nullif(col("n") - 1, lit(0L))).as("var"))
      val a = m.where(col("cohort") === "A")
        .select(col("event_type"), col("n").as("n_a"),
          col("mean").as("ma"), col("var").as("va"))
      val b = m.where(col("cohort") === "B")
        .select(col("event_type").as("et_b"), col("n").as("n_b"),
          col("mean").as("mb"), col("var").as("vb"))
      a.join(b, col("event_type") === col("et_b"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
          round((col("ma") - col("mb")) /
            sqrt(col("va") / col("n_a") + col("vb") / col("n_b")), 6)
            .as("t_welch"))
    },
    // Mann–Whitney U per metric (Stats.mannWhitneyU): the rank-based
    // nonparametric twin of the Welch readout — exact tie-averaged
    // ranks carried as 2×rank BIGINTs over the pre-aggregated value
    // domain, tie-corrected z from integer moment sums
    QueryDef(
      "stats_mannwhitney_u",
      """WITH g AS (SELECT event_type AS g,
        |    CASE WHEN (user_id * 2654435761) % 4294967296 % 2 = 0 THEN 'A' ELSE 'B' END AS c,
        |    value AS v FROM events),
        |dom AS (SELECT g, v, CAST(sum(CASE WHEN c = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
        |r AS (SELECT g, ca, cnt,
        |    2 * (sum(cnt) OVER (PARTITION BY g ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1)
        |      + cnt - 1 AS r2
        |  FROM dom),
        |s AS (SELECT g, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cnt - ca) AS BIGINT) AS nb,
        |    CAST(sum(ca * r2) AS BIGINT) AS ra2,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties3 FROM r GROUP BY 1)
        |SELECT g AS group_key, na AS n_a, nb AS n_b,
        |  CAST(ra2 - na * (na + 1) AS DOUBLE) / 2 AS u_a,
        |  CAST(2 * na * nb - (ra2 - na * (na + 1)) AS DOUBLE) / 2 AS u_b,
        |  round((CAST(ra2 - na * (na + 1) AS DOUBLE) / 2 - CAST(na AS DOUBLE) * nb / 2)
        |    / sqrt(nullif(CAST(na AS DOUBLE) * nb / 12.0
        |        * ((CAST(na + nb AS DOUBLE) + 1)
        |           - CAST(ties3 AS DOUBLE)
        |             / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1))), 0)), 6) AS z
        |FROM s""".stripMargin) { (s, d) =>
      import graft.operators.Stats
      Stats.mannWhitneyU(Tables.table(s, d, "events"),
        col("event_type"),
        when(graft.operators.CorpusOps.hash32(col("user_id")) % 2 === 0, "A")
          .otherwise("B"),
        col("value"))
    },
    // two-regressor OLS per return flag (Stats.olsTwo): price ~
    // quantity + discount solved in closed form from exact DECIMAL
    // normal-equation moments — the controlled-effect readout without
    // an iterative solver
    QueryDef(
      "stats_ols_multi",
      """WITH v AS (SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(9,2)) AS y,
        |    CAST(l_quantity AS DECIMAL(9,2)) AS x1,
        |    CAST(l_discount AS DECIMAL(6,4)) AS x2 FROM lineitem),
        |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(y AS DECIMAL(38,8))) AS sy,
        |    sum(CAST(x1 AS DECIMAL(38,8))) AS s1,
        |    sum(CAST(x2 AS DECIMAL(38,8))) AS s2,
        |    sum(CAST(x1 * x1 AS DECIMAL(38,8))) AS s11,
        |    sum(CAST(x1 * x2 AS DECIMAL(38,8))) AS s12,
        |    sum(CAST(x2 * x2 AS DECIMAL(38,8))) AS s22,
        |    sum(CAST(x1 * y AS DECIMAL(38,8))) AS s1y,
        |    sum(CAST(x2 * y AS DECIMAL(38,8))) AS s2y,
        |    sum(CAST(y * y AS DECIMAL(38,8))) AS syy
        |  FROM v GROUP BY 1),
        |m AS (SELECT g, n,
        |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n AS a11,
        |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / n AS a12,
        |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n AS a22,
        |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS a1y,
        |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS a2y,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS ayy,
        |    CAST(sy AS DOUBLE) / n AS my, CAST(s1 AS DOUBLE) / n AS m1,
        |    CAST(s2 AS DOUBLE) / n AS m2
        |  FROM s),
        |b AS (SELECT g, n, my, m1, m2, a1y, a2y, ayy,
        |    (a1y * a22 - a2y * a12) / (a11 * a22 - a12 * a12) AS b1,
        |    (a2y * a11 - a1y * a12) / (a11 * a22 - a12 * a12) AS b2
        |  FROM m)
        |SELECT g AS group_key, n,
        |  round(my - b1 * m1 - b2 * m2, 6) AS b0,
        |  round(b1, 6) AS b1, round(b2, 6) AS b2,
        |  round((b1 * a1y + b2 * a2y) / ayy, 6) AS r2
        |FROM b""".stripMargin) { (s, d) =>
      import graft.operators.Stats
      Stats.olsTwo(Tables.table(s, d, "lineitem"),
        col("l_returnflag"),
        col("l_extendedprice").cast("decimal(9,2)"),
        col("l_quantity").cast("decimal(9,2)"),
        col("l_discount").cast("decimal(6,4)"))
    },
    // Kaplan–Meier time-to-conversion (Stats.kaplanMeier): subject =
    // every 'view' event, event-of-interest = the SAME user's next
    // 'purchase' (hour grain), right-censored at the observation end
    // when no purchase follows — the conversion-latency curve with
    // NATURAL censoring, computed over the bounded duration domain
    // with an exp-of-decimal-sum product so the oracle matches
    // bit-for-bit
    QueryDef(
      "events_kaplan_meier",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events),
        |v AS (SELECT user_id, event_type, tus,
        |    min(CASE WHEN event_type = 'purchase' THEN tus END) OVER
        |      (PARTITION BY user_id ORDER BY tus, event_id
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
        |  FROM e),
        |g AS (SELECT max(tus) AS gmax FROM e),
        |subj AS (SELECT CASE WHEN np IS NOT NULL THEN (np - tus) // 3600000000
        |         ELSE (gmax - tus) // 3600000000 END AS t,
        |    np IS NULL AS cen
        |  FROM v, g WHERE event_type = 'view'),
        |dom AS (SELECT t, CAST(sum(CASE WHEN cen THEN 0 ELSE 1 END) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS tot FROM subj GROUP BY 1),
        |tt AS (SELECT CAST(sum(tot) AS BIGINT) AS n_total FROM dom),
        |r AS (SELECT t, d, tot,
        |    CAST(n_total - sum(tot) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + tot AS BIGINT) AS n_risk
        |  FROM dom, tt),
        |ee AS (SELECT t, n_risk, d,
        |    CASE WHEN d = n_risk THEN CAST(0 AS DECIMAL(28,12))
        |         ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 9)
        |                   AS DECIMAL(28,12)) END AS lnterm,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS da
        |  FROM r WHERE d > 0),
        |c AS (SELECT t, n_risk, d,
        |    sum(lnterm) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
        |    max(da) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM ee)
        |SELECT t, n_risk, d AS n_events,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END AS survival
        |FROM c""".stripMargin) { (s, d) =>
      import graft.operators.Stats
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.table(s, d, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("tus"), col("event_id"))
      val wNext = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      val views = ev
        .withColumn("np",
          min(when(col("event_type") === "purchase", col("tus"))).over(wNext))
        .filter(col("event_type") === "view")
      val gmax = ev.agg(max(col("tus")).as("gmax"))
      val subj = views.crossJoin(broadcast(gmax))
        .select(
          when(col("np").isNotNull, expr("(np - tus) div 3600000000"))
            .otherwise(expr("(gmax - tus) div 3600000000")).as("dur"),
          col("np").isNull.as("cen"))
      Stats.kaplanMeier(subj, col("dur"), col("cen"))
    }
  )
}
