package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Exact._
import graft.operators.{AsOfJoin, ConnectedComponents, Dedup, NativeAsOf,
  RangeJoin, Sessionize, Staging, Stats, TextOps, Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.one

/** Time-series operator surface (SURVEY.md §7.1 step 3): as-of join,
  * interval join, tumbling-window aggregation, OHLC resampling,
  * sessionization, tick-to-tick deltas, VWAP.
  *
  * These are the first-class versions of the analytics the reference runs
  * in consumer threads (VWAP tracking
  * `/root/reference/src/tests/integration_test.rs:241-255`, event-time lag
  * `:257-270`) plus the canonical tsdb operators it lacks (SURVEY.md §2.4).
  *
  * All event-time arithmetic is in epoch milliseconds (exact integers) or
  * µs-truncated timestamps, matching DuckDB's `CAST(ns AS TIMESTAMP)` /
  * `epoch_ms` semantics on the nanosecond fixture column (Tables.events).
  *
  * Also here: fill-forward and gap filling, rolling and time-weighted
  * statistics, drawdown and volatility, seasonal decomposition and
  * seasonal anomalies, and event analytics (funnels, retention, cohorts,
  * attribution).
  */
object TimeSeries {

  // DuckDB-side views of the events table used by several oracles.
  private val eventsMsSql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_type, value
      |FROM events""".stripMargin

  // shared TOTAL order within a supplier's price series. The price is a
  // required tiebreak: the fixtures contain one (suppkey, shipdate,
  // orderkey, linenumber) collision with two different prices, and
  // (shipdate, orderkey, linenumber, extendedprice) is verified unique —
  // without it lag/frames pick engine-dependent neighbors.
  private val SeriesOrder =
    "l_shipdate, l_orderkey, l_linenumber, l_extendedprice"

  private val MedWin = 20

  private val GapMs = 1800000L // 30-min session gap

  /** Centered moving-average span: 12 preceding + current + 11
    * following = 24 hourly slots. */
  private val Before = 12
  private val After = 11

  /** q264's oracle text — shared verbatim by the q267 streaming twin
    * (the q192/q193 pattern). */
  val SeasonalOracle: String =
    s"""WITH h AS (SELECT event_type,
       |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
       |    CAST(SUM(CAST(value AS DECIMAL(28,6)) * 100) AS BIGINT)
       |      AS vsum_c
       |  FROM events GROUP BY 1, 2),
       |tr AS (SELECT event_type, hr, vsum_c,
       |    CAST(SUM(vsum_c) OVER w * 1000 // COUNT(*) OVER w AS BIGINT)
       |      AS trend_milli
       |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
       |    ROWS BETWEEN $Before PRECEDING AND $After FOLLOWING)),
       |dt AS (SELECT event_type, hr,
       |    CAST(hour(hr) AS BIGINT) AS hod, vsum_c, trend_milli,
       |    vsum_c * 1000 - trend_milli AS detr_milli FROM tr),
       |se AS (SELECT event_type, hod,
       |    CAST(SUM(detr_milli) // COUNT(*) AS BIGINT) AS seasonal_milli
       |  FROM dt GROUP BY 1, 2)
       |SELECT dt.event_type, hr, vsum_c, trend_milli, seasonal_milli,
       |  detr_milli - seasonal_milli AS remainder_milli
       |FROM dt JOIN se ON dt.event_type = se.event_type
       |  AND dt.hod = se.hod""".stripMargin

  /** Decomposition tail over the hourly (event_type, hr, vsum_c)
    * frame — bounded (types x hours), shared by batch q264 and the
    * streaming q267. */
  def seasonalTail(h: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import h.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"hr")
      .rowsBetween(-Before, After)
    // two-step so the DIV flooring order is declared: sum*1000 first,
    // floor-divide by the frame count second (the oracle's spelling)
    val tr = h
      .withColumn("sw", sum($"vsum_c").over(w))
      .withColumn("cw", count(one).over(w))
      .select($"event_type", $"hr", $"vsum_c",
        expr("sw * 1000 DIV cw").as("trend_milli"))
      .withColumn("hod", hour($"hr").cast(LongType))
      .withColumn("detr_milli", $"vsum_c" * 1000 - $"trend_milli")
    val se = tr.groupBy($"event_type".as("et2"), $"hod".as("hod2"))
      .agg(expr("SUM(detr_milli) DIV COUNT(*)").as("seasonal_milli"))
    tr.join(se, $"event_type" === $"et2" && $"hod" === $"hod2")
      .select($"event_type", $"hr", $"vsum_c", $"trend_milli",
        $"seasonal_milli",
        ($"detr_milli" - $"seasonal_milli").as("remainder_milli"))
  }

  // ---- q271 geometry ------------------------------------------------------
  private val MaxLag = 6

  /** Oracle shared VERBATIM by q331 (batch) and q332 (stream). */
  private val SeasonalAnomalyOracle =
    """WITH c AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |r AS (SELECT d, dow, hr, n,
      |    row_number() OVER (PARTITION BY dow, hr ORDER BY n, d) AS rn,
      |    COUNT(*) OVER (PARTITION BY dow, hr) AS cnt FROM c),
      |med AS (SELECT dow, hr, n AS med FROM r WHERE rn = (cnt + 1) // 2),
      |dev AS (SELECT r.d, r.dow, r.hr, r.n, med.med,
      |    abs(r.n - med.med) AS ad FROM r JOIN med
      |    ON med.dow = r.dow AND med.hr = r.hr),
      |dr AS (SELECT d, dow, hr, n, med, ad,
      |    row_number() OVER (PARTITION BY dow, hr ORDER BY ad, d) AS rn,
      |    COUNT(*) OVER (PARTITION BY dow, hr) AS cnt FROM dev),
      |mad AS (SELECT dow, hr, ad AS mad FROM dr
      |        WHERE rn = (cnt + 1) // 2)
      |SELECT dev.d, dev.dow, dev.hr, CAST(dev.n AS BIGINT) AS n,
      |  CAST(dev.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
      |  CASE WHEN 10000 * dev.ad > 44478 * mad.mad THEN 1 ELSE 0 END
      |    AS anom
      |FROM dev JOIN mad ON mad.dow = dev.dow AND mad.hr = dev.hr"""
      .stripMargin

  /** Baseline/MAD/flag tail over (d, dow, hr, n) daily cell counts —
    * shared verbatim by q331 and the streaming twin q332. */
  private[graft] def seasonalAnomalyTail(cells: DataFrame): DataFrame = {
    val byCell = Window.partitionBy(col("dow"), col("hr"))
    val r = cells
      .withColumn("rn", row_number().over(byCell.orderBy(col("n"),
        col("d"))))
      .withColumn("cnt", count(lit(1)).over(byCell))
    val med = r.filter(expr("rn = (cnt + 1) DIV 2"))
      .select(col("dow").as("mdow"), col("hr").as("mhr"),
        col("n").as("med"))
    val dev = r.select(col("d"), col("dow"), col("hr"), col("n"))
      .join(med, col("dow") === col("mdow") && col("hr") === col("mhr"))
      .withColumn("ad", abs(col("n") - col("med")))
    val dr = dev
      .withColumn("rn", row_number().over(byCell.orderBy(col("ad"),
        col("d"))))
      .withColumn("cnt", count(lit(1)).over(byCell))
    val mad = dr.filter(expr("rn = (cnt + 1) DIV 2"))
      .select(col("dow").as("xdow"), col("hr").as("xhr"),
        col("ad").as("mad"))
    dev.join(mad, col("dow") === col("xdow") && col("hr") === col("xhr"))
      .select(col("d"), col("dow"), col("hr"),
        col("n").cast(LongType).as("n"),
        col("med").cast(LongType).as("med"),
        col("mad").cast(LongType).as("mad"),
        when(lit(10000) * col("ad") > lit(44478) * col("mad"), 1)
          .otherwise(0).as("anom"))
  }

  /** Daily (date, iso-dow, hour) cell counts — the 1=Monday mapping
    * matching DuckDB's isodow (q142's convention). */
  private def dailyCells(events: DataFrame): DataFrame =
    events.groupBy(to_date(col("ts")).as("d"),
        (((dayofweek(col("ts")) + 5) % 7) + 1).cast(LongType).as("dow"),
        hour(col("ts")).cast(LongType).as("hr"))
      .agg(count(lit(1)).as("n"))

  val all: Seq[Qry] = Seq(

    // ---- backward as-of join: latest click before each error ------------
    Qry(
      "q25_asof_join",
      s"""WITH e AS ($eventsMsSql)
         |SELECT event_id, user_id, ts, value,
         |  click_id, click_ts, click_value,
         |  ms - click_ms AS gap_ms
         |FROM (
         |  SELECT err.*, c.event_id AS click_id, c.ts AS click_ts,
         |    c.ms AS click_ms, c.value AS click_value,
         |    row_number() OVER (PARTITION BY err.event_id
         |                       ORDER BY c.ms DESC, c.event_id DESC) AS rn
         |  FROM (SELECT * FROM e WHERE event_type = 'error') err
         |  LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
         |    ON err.user_id = c.user_id AND c.ms <= err.ms)
         |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"event_id", $"user_id", $"ts", unix_millis($"ts").as("ms"),
          $"event_type", $"value")
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts", $"ms", $"value")
      val clicks = ev.filter($"event_type" === "click")
      AsOfJoin.backward(
          errors, clicks,
          keys = Seq("user_id" -> "user_id"),
          leftTime = "ms", rightTime = "ms",
          carry = Seq("event_id" -> "click_id", "ts" -> "click_ts",
            "ms" -> "click_ms", "value" -> "click_value"),
          rightTieBreak = Seq("event_id"))
        .select($"event_id", $"user_id", $"ts", $"value",
          $"click_id", $"click_ts", $"click_value",
          ($"ms" - $"click_ms").as("gap_ms"))
    },

    // ---- forward as-of join: next click at/after each error ------------
    Qry(
      "q73_asof_forward",
      s"""WITH e AS ($eventsMsSql)
         |SELECT event_id, user_id, ts, value,
         |  click_id, click_value, click_ms - ms AS wait_ms
         |FROM (
         |  SELECT err.*, c.event_id AS click_id, c.ms AS click_ms,
         |    c.value AS click_value,
         |    row_number() OVER (PARTITION BY err.event_id
         |                       ORDER BY c.ms ASC, c.event_id DESC) AS rn
         |  FROM (SELECT * FROM e WHERE event_type = 'error') err
         |  LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
         |    ON err.user_id = c.user_id AND c.ms >= err.ms)
         |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"event_id", $"user_id", $"ts", unix_millis($"ts").as("ms"),
          $"event_type", $"value")
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts", $"ms", $"value")
      val clicks = ev.filter($"event_type" === "click")
      AsOfJoin.forward(
          errors, clicks,
          keys = Seq("user_id" -> "user_id"),
          leftTime = "ms", rightTime = "ms",
          carry = Seq("event_id" -> "click_id", "ms" -> "click_ms",
            "value" -> "click_value"),
          rightTieBreak = Seq("event_id"))
        .select($"event_id", $"user_id", $"ts", $"value",
          $"click_id", $"click_value",
          ($"click_ms" - $"ms").as("wait_ms"))
    },

    // ---- VWAP per symbol per period (reference's flagship analytic) ----
    // price*qty ≡ l_extendedprice; symbol ≡ l_suppkey; period ≡ month.
    Qry(
      "q26_vwap",
      s"""SELECT l_suppkey, date_trunc('month', l_shipdate) AS month,
         |  ${dsumSql("l_extendedprice")} / ${dsumSql("l_quantity")} AS vwap,
         |  ${dsumSql("l_quantity")} AS volume,
         |  COUNT(*) AS n_trades
         |FROM lineitem
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .groupBy($"l_suppkey",
          to_date(date_trunc("month", $"l_shipdate")).as("month"))
        .agg(
          (dsum($"l_extendedprice") / dsum($"l_quantity")).as("vwap"),
          dsum($"l_quantity").as("volume"),
          count(one).as("n_trades"))
    },

    // ---- tumbling event-time window aggregation ------------------------
    Qry(
      "q27_tumbling_window",
      s"""SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |    AS bucket,
         |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS val_sum,
         |  ${davgSql("value")} AS val_avg
         |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(count(one).as("n"), dsum($"value").as("val_sum"),
          davg($"value").as("val_avg"))
        .select($"window.start".as("bucket"), $"event_type",
          $"n", $"val_sum", $"val_avg")
    },

    // ---- interval join: clicks in the hour before each purchase --------
    Qry(
      "q28_range_join",
      s"""WITH e AS ($eventsMsSql),
         |  p AS (SELECT event_id, user_id, ts, ms FROM e
         |        WHERE event_type = 'purchase'),
         |  c AS (SELECT user_id AS cu, ms AS cms, value AS cval FROM e
         |        WHERE event_type = 'click')
         |SELECT p.event_id, p.user_id, p.ts,
         |  COUNT(c.cms) AS n_clicks,
         |  ${dsumSql("c.cval")} AS click_val_sum
         |FROM p LEFT JOIN c
         |  ON p.user_id = c.cu AND c.cms >= p.ms - 3600000 AND c.cms < p.ms
         |GROUP BY 1, 2, 3""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"event_id", $"user_id", $"ts", unix_millis($"ts").as("ms"),
          $"event_type", $"value")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"ms")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("cu"), $"ms".as("cms"), $"value".as("cval"))
      val joined = RangeJoin.intervalJoin(
        purchases, clicks,
        leftKey = "user_id", rightKey = "cu",
        leftTimeMs = "ms", rightTimeMs = "cms",
        beforeMs = 3600000L, afterMs = 0L, bucketMs = 3600000L)
      val perPurchase = joined.groupBy($"event_id".as("eid"))
        .agg(count(one).as("n_clicks"), dsum($"cval").as("click_val_sum"))
      purchases.join(perPurchase, $"event_id" === $"eid", "left")
        .select($"event_id", $"user_id", $"ts",
          coalesce($"n_clicks", lit(0L)).as("n_clicks"), $"click_val_sum")
    },

    // ---- OHLC resampling (downsample to 15-minute bars) ----------------
    Qry(
      "q29_resample_ohlc",
      s"""WITH b AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |      AS bucket,
         |    value,
         |    row_number() OVER (PARTITION BY event_type,
         |        time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rna,
         |    row_number() OVER (PARTITION BY event_type,
         |        time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rnd
         |  FROM events)
         |SELECT event_type, bucket,
         |  MAX(CASE WHEN rna = 1 THEN value END) AS open,
         |  MAX(CASE WHEN rnd = 1 THEN value END) AS close,
         |  MAX(value) AS high, MIN(value) AS low,
         |  COUNT(*) AS n, ${dsumSql("value")} AS val_sum
         |FROM b GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val base = Tables(spark, dir).events
        .select($"event_type",
          window($"ts", "15 minutes").getField("start").as("bucket"),
          $"ts", $"event_id", $"value")
      val wa = Window.partitionBy($"event_type", $"bucket")
        .orderBy($"ts".asc, $"event_id".asc)
      val wd = Window.partitionBy($"event_type", $"bucket")
        .orderBy($"ts".desc, $"event_id".desc)
      base
        .withColumn("rna", row_number().over(wa))
        .withColumn("rnd", row_number().over(wd))
        .groupBy($"event_type", $"bucket")
        .agg(
          max(when($"rna" === 1, $"value")).as("open"),
          max(when($"rnd" === 1, $"value")).as("close"),
          max($"value").as("high"), min($"value").as("low"),
          count(one).as("n"), dsum($"value").as("val_sum"))
    },

    // ---- gap-based sessionization --------------------------------------
    Qry(
      "q30_sessionize",
      s"""WITH e AS ($eventsMsSql),
         |  flags AS (
         |    SELECT user_id, event_id, ms, value,
         |      CASE WHEN lag(ms) OVER w IS NULL
         |             OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END
         |        AS new_s
         |    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |  sess AS (
         |    SELECT user_id, ms, value,
         |      CAST(SUM(new_s) OVER (PARTITION BY user_id
         |        ORDER BY ms, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS BIGINT) AS session_id
         |    FROM flags)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ms) AS start_ms, MAX(ms) AS end_ms,
         |  MAX(ms) - MIN(ms) AS duration_ms,
         |  ${dsumSql("value")} AS val_sum
         |FROM sess GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"value")
      Sessionize.byGap(ev, keys = Seq("user_id"), timeMs = "ms",
          gapMs = 1800000L, tieBreak = Seq("event_id"))
        .groupBy($"user_id", $"session_id")
        .agg(count(one).as("n_events"),
          min($"ms").as("start_ms"), max($"ms").as("end_ms"),
          (max($"ms") - min($"ms")).as("duration_ms"),
          dsum($"value").as("val_sum"))
    },

    // ---- tick-to-tick deltas (reference's event-time lag, §2.2 #11) ----
    Qry(
      "q31_event_deltas",
      s"""WITH e AS ($eventsMsSql)
         |SELECT user_id, event_id, ts, value,
         |  ms - lag(ms) OVER w AS gap_ms,
         |  value - lag(value) OVER w AS value_delta,
         |  row_number() OVER w AS seq
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      Tables(spark, dir).events
        .select($"user_id", $"event_id", $"ts", unix_millis($"ts").as("ms"),
          $"value")
        .withColumn("gap_ms", $"ms" - lag($"ms", 1).over(w))
        .withColumn("value_delta", $"value" - lag($"value", 1).over(w))
        .withColumn("seq", row_number().over(w))
        .select($"user_id", $"event_id", $"ts", $"value",
          $"gap_ms", $"value_delta", $"seq")
    },

    // ---- sliding windows (every event lands in 6 overlapping windows) --
    Qry(
      "q59_sliding_window",
      s"""WITH slid AS (
         |  SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
         |      - unnest(range(6)) * INTERVAL '10 minutes' AS ws,
         |    event_type, value
         |  FROM events)
         |SELECT ws, event_type, COUNT(*) AS n, ${dsumSql("value")} AS val_sum
         |FROM slid GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy(window($"ts", "60 minutes", "10 minutes"), $"event_type")
        .agg(count(one).as("n"), dsum($"value").as("val_sum"))
        .select($"window.start".as("ws"), $"event_type", $"n", $"val_sum")
    },

    // ---- LOCF gap fill + value windows ---------------------------------
    // Values < 5 are treated as missing sensor readings; `filled` carries
    // the last valid observation forward per user.
    Qry(
      "q71_fill_forward",
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value,
        |    CASE WHEN value < 5e0 THEN NULL ELSE value END AS nv
        |  FROM events)
        |SELECT user_id, event_id, value,
        |  last_value(nv IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ms, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  first_value(value) OVER
        |    (PARTITION BY user_id ORDER BY ms, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_seen,
        |  nth_value(value, 3) OVER
        |    (PARTITION BY user_id ORDER BY ms, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_value
        |FROM e""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val running = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"value", when($"value" < 5.0, lit(null)).otherwise($"value")
            .as("nv"))
        .select($"user_id", $"event_id", $"value",
          last($"nv", ignoreNulls = true).over(running).as("filled"),
          first($"value").over(running).as("first_seen"),
          nth_value($"value", 3).over(full).as("third_value"))
    },

    // ---- EWMA smoothing over lag windows -------------------------------
    // Exponentially weighted moving average with a finite 5-tap kernel
    // (α = 1/2): one window pass, weights are exact binary fractions and
    // the summation order is fixed by the expression tree, so the double
    // result is bit-identical cross-engine. Rows before the 5th per key
    // are excluded (kernel not yet full) on both sides.
    Qry(
      "q85_ewma",
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events),
        |l AS (SELECT user_id, event_id, value,
        |    lag(value, 1) OVER w AS v1, lag(value, 2) OVER w AS v2,
        |    lag(value, 3) OVER w AS v3, lag(value, 4) OVER w AS v4,
        |    row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT user_id, event_id,
        |  round((value + 0.5e0 * v1 + 0.25e0 * v2 + 0.125e0 * v3
        |    + 0.0625e0 * v4) / 1.9375e0, 6) AS ewma5
        |FROM l WHERE rn >= 5""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"value")
      Stats.ewma(e, keys = Seq($"user_id"),
          order = Seq($"ms", $"event_id"),
          valueCol = "value", alpha = 0.5, taps = 5)
        .select($"user_id", $"event_id", round($"ewma", 6).as("ewma5"))
    },

    // Product-analytics operators over the event log — ordered funnels,
    // cohort retention, and transition matrices. All integer-valued outputs
    // (counts, day buckets), so cross-engine determinism is structural, not
    // a rounding exercise.
    // ---- ordered funnel (signup → click → purchase) --------------------
    // Stage N counts users whose earliest stage-N event STRICTLY follows
    // their stage-(N-1) anchor. Each stage is a per-user MIN aggregate +
    // an equi-join on user_id — never a self-cross; at scale the stage
    // frames are user-cardinality (dim-sized vs the event log) and the
    // three final counts are single-row aggregates.
    Qry(
      "q96_funnel",
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |s AS (SELECT user_id, MIN(ms) AS s_ms FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ms) AS c_ms FROM e
        |      JOIN s ON e.user_id = s.user_id AND e.ms > s.s_ms
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ms) AS p_ms FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.ms > c.c_ms
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM s) AS n_signup,
        |  (SELECT COUNT(*) FROM c) AS n_click_after,
        |  (SELECT COUNT(*) FROM p) AS n_purchase_after""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val e = Tables(spark, dir).events
          .select($"user_id", $"event_type", unix_millis($"ts").as("ms"))
        val s = e.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"ms").as("s_ms"))
        val c = e.filter($"event_type" === "click")
          .join(s.withColumnRenamed("user_id", "su"),
            $"user_id" === $"su" && $"ms" > $"s_ms")
          .groupBy($"user_id").agg(min($"ms").as("c_ms"))
        val p = e.filter($"event_type" === "purchase")
          .join(c.withColumnRenamed("user_id", "cu"),
            $"user_id" === $"cu" && $"ms" > $"c_ms")
          .groupBy($"user_id").agg(min($"ms").as("p_ms"))
        s.agg(count(one).as("n_signup"))
          .crossJoin(c.agg(count(one).as("n_click_after")))
          .crossJoin(p.agg(count(one).as("n_purchase_after")))
    },

    // ---- cohort retention (daily cohorts × day offset) -----------------
    // Users cohorted by first-activity day; retention = distinct users
    // active at each day offset. Two hash aggregates + one equi-join on
    // user_id; day buckets are integer epoch-day arithmetic.
    Qry(
      "q97_retention",
      """WITH e AS (SELECT user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS day0 FROM e GROUP BY 1)
        |SELECT f.day0 AS cohort_day, e.day - f.day0 AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).events
        .select($"user_id",
          expr("unix_millis(ts) div 86400000").as("day"))
      val f = e.groupBy($"user_id".as("fu")).agg(min($"day").as("day0"))
      e.join(f, $"user_id" === $"fu")
        .groupBy($"day0".as("cohort_day"),
          ($"day" - $"day0").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
    },

    // ---- event-transition matrix ---------------------------------------
    // Markov transition counts between consecutive event types per user
    // (one window pass + one hash aggregate) — the sequence-model view of
    // the log the reference's consumers only see as independent records.
    Qry(
      "q98_transitions",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS prev_type
        |  FROM e)
        |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |FROM l WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      Tables(spark, dir).events
        .select($"user_id", $"event_id", $"event_type",
          unix_millis($"ts").as("ms"))
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(one).as("n"))
    },

    // Nearest-direction as-of join.
    // ---- nearest as-of join (merge_asof direction='nearest') -----------
    // Each error attaches the click closest in time on either side
    // (equidistant → the past match, the causality-friendly tie).
    // Composed backward ∘ forward: two single-shuffle running-last
    // passes, zero row amplification — never a |L|×|R| theta join.
    Qry(
      "q104_asof_nearest",
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |err AS (SELECT * FROM e WHERE event_type = 'error'),
        |clk AS (SELECT * FROM e WHERE event_type = 'click'),
        |b AS (SELECT event_id, b_id, b_ms, b_value FROM (
        |    SELECT err.event_id, c.event_id AS b_id, c.ms AS b_ms,
        |      c.value AS b_value,
        |      row_number() OVER (PARTITION BY err.event_id
        |        ORDER BY c.ms DESC, c.event_id DESC) AS rn
        |    FROM err LEFT JOIN clk c
        |      ON err.user_id = c.user_id AND c.ms <= err.ms)
        |  WHERE rn = 1),
        |f AS (SELECT event_id, f_id, f_ms, f_value FROM (
        |    SELECT err.event_id, c.event_id AS f_id, c.ms AS f_ms,
        |      c.value AS f_value,
        |      row_number() OVER (PARTITION BY err.event_id
        |        ORDER BY c.ms ASC, c.event_id DESC) AS rn
        |    FROM err LEFT JOIN clk c
        |      ON err.user_id = c.user_id AND c.ms >= err.ms)
        |  WHERE rn = 1)
        |SELECT err.event_id, err.user_id, err.ms,
        |  CASE WHEN f_ms IS NULL THEN b_id
        |       WHEN b_ms IS NULL THEN f_id
        |       WHEN err.ms - b_ms <= f_ms - err.ms THEN b_id
        |       ELSE f_id END AS near_id,
        |  CASE WHEN f_ms IS NULL THEN b_value
        |       WHEN b_ms IS NULL THEN f_value
        |       WHEN err.ms - b_ms <= f_ms - err.ms THEN b_value
        |       ELSE f_value END AS near_value,
        |  CASE WHEN f_ms IS NULL THEN err.ms - b_ms
        |       WHEN b_ms IS NULL THEN f_ms - err.ms
        |       WHEN err.ms - b_ms <= f_ms - err.ms THEN err.ms - b_ms
        |       ELSE f_ms - err.ms END AS asof_gap
        |FROM err
        |  JOIN b ON err.event_id = b.event_id
        |  JOIN f ON err.event_id = f.event_id""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val ev = Tables(spark, dir).events
          .select($"event_id", $"user_id", $"event_type", $"value",
            unix_millis($"ts").as("ms"))
        val errors = ev.filter($"event_type" === "error")
          .select($"event_id", $"user_id", $"ms")
        val clicks = ev.filter($"event_type" === "click")
        AsOfJoin.nearest(
            errors, clicks,
            keys = Seq("user_id" -> "user_id"),
            leftTime = "ms", rightTime = "ms",
            carry = Seq("event_id" -> "near_id", "value" -> "near_value"),
            rightTieBreak = Seq("event_id"))
          .select($"event_id", $"user_id", $"ms",
            $"near_id", $"near_value", $"asof_gap")
    },

    // ---- ISO calendar bucketing ----------------------------------------
    // Calendar roll-ups on the ISO-8601 grid. Dialect bridge: Spark's
    // dayofweek is 1=Sunday, DuckDB's isodow is 1=Monday — both sides
    // emit the ISO convention (Monday=1), Spark via (dow+5)%7+1.
    // weekofyear is ISO week in both engines.
    Qry(
      "q105_iso_calendar",
      """SELECT year(o_orderdate) AS y,
        |  quarter(o_orderdate) AS q,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY 1, 2, 3, 4""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy(year($"o_orderdate").as("y"),
          quarter($"o_orderdate").as("q"),
          weekofyear($"o_orderdate").as("iso_week"),
          (((dayofweek($"o_orderdate") + 5) % 7) + 1).as("iso_dow"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- lag-1 autocorrelation of daily event counts -------------------
    // Day-over-day persistence per event type. Counts are integers, so
    // ALL five regression moments stay exact BIGINT sums — the Pearson
    // closed form is then row-local double math on identical inputs in
    // both engines (the same trick as q81; built-in corr would accumulate
    // doubles in engine-specific partial order).
    Qry(
      "q110_daily_autocorr",
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM daily),
        |m AS (SELECT event_type, COUNT(*) AS np,
        |    CAST(SUM(prev) AS BIGINT) AS sx, CAST(SUM(n) AS BIGINT) AS sy,
        |    CAST(SUM(prev * prev) AS BIGINT) AS sxx,
        |    CAST(SUM(n * n) AS BIGINT) AS syy,
        |    CAST(SUM(prev * n) AS BIGINT) AS sxy
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1)
        |SELECT event_type, np AS n_pairs,
        |  round(CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
        |    THEN CAST(np * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(np * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(np * syy - sy * sy AS DOUBLE)))
        |    END, 6) AS autocorr
        |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val daily = Tables(spark, dir).events
        .groupBy($"event_type",
          to_date(date_trunc("day", $"ts")).as("day"))
        .agg(count(one).as("n"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val m = daily
        .withColumn("prev", lag($"n", 1).over(w))
        .filter($"prev".isNotNull)
        .groupBy($"event_type")
        .agg(count(one).as("np"), sum($"prev").as("sx"),
          sum($"n").as("sy"), sum($"prev" * $"prev").as("sxx"),
          sum($"n" * $"n").as("syy"), sum($"prev" * $"n").as("sxy"))
      val denx = $"np" * $"sxx" - $"sx" * $"sx"
      val deny = $"np" * $"syy" - $"sy" * $"sy"
      m.select($"event_type", $"np".as("n_pairs"),
        round(when(denx > 0 && deny > 0,
          ($"np" * $"sxy" - $"sx" * $"sy").cast("double") /
            (sqrt(denx.cast("double")) * sqrt(deny.cast("double")))), 6)
          .as("autocorr"))
    },

    // ---- max drawdown per supplier price series ------------------------
    // The classic risk metric on the reference's price-stream shape:
    // running max minus current value, maximized per series. Pure window
    // arithmetic on unsummed doubles (max/subtract only — both engines
    // see bit-identical values), one shuffle on the series key. The
    // trailing price tiebreak makes the order TOTAL (the fixtures carry
    // one (suppkey, shipdate, orderkey, linenumber) collision).
    Qry(
      "q111_drawdown",
      """WITH r AS (SELECT l_suppkey, l_extendedprice,
        |    MAX(l_extendedprice) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM lineitem)
        |SELECT l_suppkey, MAX(runmax - l_extendedprice) AS max_drawdown,
        |  COUNT(*) AS n_trades
        |FROM r GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir).lineitem
        .select($"l_suppkey", $"l_shipdate", $"l_orderkey",
          $"l_linenumber", $"l_extendedprice")
        .withColumn("runmax", max($"l_extendedprice").over(w))
        .groupBy($"l_suppkey")
        .agg(max($"runmax" - $"l_extendedprice").as("max_drawdown"),
          count(one).as("n_trades"))
    },

    // ---- interval-union coverage (session overlap collapse) ------------
    // Total wall-clock each user was "active" under 30-minute activity
    // intervals, with overlaps collapsed — the island-detection pattern
    // (new island ⇔ start > max prior end). All integer millisecond
    // arithmetic; one shuffle on user_id, two windows sharing it.
    // Intervals are DISTINCT first: a union is a set operation, and
    // duplicate (s, e) rows would leave the window order non-total — the
    // flag window and the cumsum window may then pick DIFFERENT tie
    // orders (even within one engine they are separate sorts), splitting
    // islands nondeterministically (observed on the 10x stress replica
    // where every event has 10 identical copies).
    Qry(
      "q114_interval_union",
      """WITH iv AS (SELECT DISTINCT user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) + 1800000 AS e
        |  FROM events),
        |f AS (SELECT user_id, s, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS ni
        |  FROM iv),
        |isl AS (SELECT user_id, s, e,
        |    SUM(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM f),
        |g AS (SELECT user_id, iid, MIN(s) AS i_start, MAX(e) AS i_end
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands,
        |  CAST(SUM(i_end - i_start) AS BIGINT) AS covered_ms
        |FROM g GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val gap = 1800000L
      val iv = Tables(spark, dir).events
        .select($"user_id", unix_millis($"ts").as("s"))
        .withColumn("e", $"s" + gap)
        .distinct()
      val wPrev = Window.partitionBy($"user_id").orderBy($"s", $"e")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy($"user_id").orderBy($"s", $"e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prevMax = max($"e").over(wPrev)
      iv.withColumn("ni",
          when(prevMax.isNull || $"s" > prevMax, 1).otherwise(0))
        .withColumn("iid", sum($"ni").over(wRun))
        .groupBy($"user_id", $"iid")
        .agg(min($"s").as("i_start"), max($"e").as("i_end"))
        .groupBy($"user_id")
        .agg(count(one).as("n_islands"),
          sum($"i_end" - $"i_start").as("covered_ms"))
    },

    // ---- calendar-spine gap fill (scale path) --------------------------
    // Missing-day zero-fill per event type: the spine is generated from
    // each type's own [min_day, max_day] via sequence()/explode — a
    // per-group bounded generator, no recursion, no driver loop. The
    // left join back is an equi-join on (type, day).
    Qry(
      "q118_gap_fill",
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
        |  FROM daily GROUP BY 1),
        |spine AS (SELECT event_type,
        |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM b)
        |SELECT s.event_type, COUNT(*) AS n_days,
        |  CAST(SUM(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_days,
        |  CAST(SUM(COALESCE(d.n, 0)) AS BIGINT) AS n_events
        |FROM spine s LEFT JOIN daily d
        |  ON s.event_type = d.event_type AND s.day = d.day
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val daily = Tables(spark, dir).events
        .groupBy($"event_type",
          to_date(date_trunc("day", $"ts")).as("day"))
        .agg(count(one).as("n"))
      val spine = daily.groupBy($"event_type")
        .agg(min($"day").as("lo"), max($"day").as("hi"))
        .select($"event_type",
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      spine.join(daily, Seq("event_type", "day"), "left")
        .groupBy($"event_type")
        .agg(count(one).as("n_days"),
          sum(when($"n".isNull, 1L).otherwise(0L)).as("n_zero_days"),
          sum(coalesce($"n", lit(0L))).as("n_events"))
    },

    // ---- time-weighted average (TWAP) ----------------------------------
    // The reference's VWAP sibling: each observation weighted by its
    // holding time (ms to the next event of the same type). Weights are
    // exact integers; value×gap products route through the decimal
    // accumulator. One window + one aggregate, single shuffle on the
    // series key.
    Qry(
      "q121_twap",
      s"""WITH e AS (SELECT event_type, event_id, value,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
         |g AS (SELECT event_type, value,
         |    lead(ms) OVER (PARTITION BY event_type
         |      ORDER BY ms, event_id) - ms AS gap
         |  FROM e)
         |SELECT event_type, COUNT(gap) AS n_holds,
         |  CAST(SUM(gap) AS BIGINT) AS held_ms,
         |  round(${dsumSql("value * gap")} / CAST(SUM(gap) AS BIGINT), 6)
         |    AS twap
         |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val w = Window.partitionBy($"event_type").orderBy($"ms", $"event_id")
        Tables(spark, dir).events
          .select($"event_type", $"event_id", $"value",
            unix_millis($"ts").as("ms"))
          .withColumn("gap", lead($"ms", 1).over(w) - $"ms")
          .filter($"gap".isNotNull)
          .groupBy($"event_type")
          .agg(count($"gap").as("n_holds"), sum($"gap").as("held_ms"),
            round(dsum($"value" * $"gap") / sum($"gap"), 6).as("twap"))
    },

    // The native as-of join plan node under the oracle gate.
    // ---- native as-of join (custom LogicalPlan/Strategy/SparkPlan) -----
    // q25's semantics routed through plans/AsOfJoinPlan →
    // plans/AsOfJoinExec (injected planner strategy): two co-partitioned
    // sorted children + one O(|L|+|R|) streaming merge per partition,
    // O(1) merge state, zero row amplification. The union+window
    // formulation (q25) and this node are checked against the SAME
    // declarative oracle, so the custom operator is gate-verified, not
    // just spec-verified.
    Qry(
      "q129_asof_native",
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_type, value
        |  FROM events)
        |SELECT event_id, user_id, ms, value,
        |  click_id, click_value, ms - click_ms AS gap_ms
        |FROM (
        |  SELECT err.*, c.event_id AS click_id, c.ms AS click_ms,
        |    c.value AS click_value,
        |    row_number() OVER (PARTITION BY err.event_id
        |                       ORDER BY c.ms DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM e WHERE event_type = 'error') err
        |  LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |    ON err.user_id = c.user_id AND c.ms <= err.ms)
        |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"event_id", $"user_id", unix_millis($"ts").as("ms"),
          $"event_type", $"value")
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ms", $"value")
      val clicks = ev.filter($"event_type" === "click")
      NativeAsOf.backward(
          errors, clicks,
          keys = Seq("user_id" -> "user_id"),
          leftTime = "ms", rightTime = "ms",
          carry = Seq("event_id" -> "click_id", "ms" -> "click_ms",
            "value" -> "click_value"),
          rightTieBreak = Seq("event_id"))
        .select($"event_id", $"user_id", $"ms", $"value",
          $"click_id", $"click_value", ($"ms" - $"click_ms").as("gap_ms"))
    },

    // Rolling window statistics — trailing correlation and log-return
    // volatility per price series.
    // ---- trailing 50-row rolling correlation ---------------------------
    // corr(quantity, price) over the last 50 observations per series —
    // the rolling-statistics family on one shuffle + one sorted window.
    // The inputs are 2-dp money, so both axes are quantized to an exact
    // BIGINT cent grid FIRST (q134's pattern) and all five moments are
    // plain long sums inside the frame: correlation is scale-invariant,
    // the integer moments are exact and bounded (|Σy²| ≤ 50·(1.1e7)² ≈
    // 6e15 ≪ 2^63; closed-form cross terms ≤ ~3e17 ≪ 2^63), and both
    // engines derive identical doubles from identical integers. This
    // replaced five DECIMAL(28,6) frame sums — decimal window
    // aggregation is interpreted (not codegen'd) and was 4x the cost of
    // the whole rest of the query (20.8 s; the long path benches
    // ~3 s). Emitted rows are a deterministic 1-in-100
    // systematic sample of the series (full output would be
    // row-per-input; the sample keeps the gate artifact bounded without
    // changing what is computed).
    Qry(
      "q133_rolling_corr",
      s"""WITH g AS (SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
         |    l_extendedprice,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS ix,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS iy
         |  FROM lineitem),
         |r AS (SELECT l_suppkey,
         |    row_number() OVER w AS rn,
         |    COUNT(*) OVER wf AS n,
         |    CAST(SUM(ix) OVER wf AS BIGINT) AS sx,
         |    CAST(SUM(iy) OVER wf AS BIGINT) AS sy,
         |    CAST(SUM(ix * ix) OVER wf AS BIGINT) AS sxx,
         |    CAST(SUM(iy * iy) OVER wf AS BIGINT) AS syy,
         |    CAST(SUM(ix * iy) OVER wf AS BIGINT) AS sxy
         |  FROM g
         |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY $SeriesOrder),
         |    wf AS (PARTITION BY l_suppkey ORDER BY $SeriesOrder
         |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
         |SELECT l_suppkey, rn, CAST(n AS BIGINT) AS n_obs,
         |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
         |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
         |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |       sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
         |    END, 6) AS roll_corr
         |FROM r WHERE rn % 100 = 0""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val wOrd = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      val wf = wOrd.rowsBetween(-49, Window.currentRow)
      val r = Tables(spark, dir).lineitem
        .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber",
          $"l_extendedprice",
          round($"l_quantity" * 100).cast("long").as("ix"),
          round($"l_extendedprice" * 100).cast("long").as("iy"))
        .select($"l_suppkey",
          row_number().over(wOrd).as("rn"),
          count(one).over(wf).as("n"),
          sum($"ix").over(wf).as("sx"),
          sum($"iy").over(wf).as("sy"),
          sum($"ix" * $"ix").over(wf).as("sxx"),
          sum($"iy" * $"iy").over(wf).as("syy"),
          sum($"ix" * $"iy").over(wf).as("sxy"))
      val denx = $"n" * $"sxx" - $"sx" * $"sx"
      val deny = $"n" * $"syy" - $"sy" * $"sy"
      r.filter($"rn" % 100 === 0)
        .select($"l_suppkey", $"rn", $"n".as("n_obs"),
          round(when(denx > 0 && deny > 0,
            ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              (sqrt(denx.cast("double")) * sqrt(deny.cast("double")))), 6)
            .as("roll_corr"))
    },

    // ---- log-return volatility per price series ------------------------
    // Population stddev of ln(p_t / p_{t-1}) per supplier — the
    // reference-domain risk metric. ln outputs are ARBITRARY doubles, and
    // casting those to DECIMAL diverges across engines (Spark rounds the
    // shortest decimal repr HALF_UP, DuckDB rounds the binary value —
    // observed one hit in 600k rows at sf0.1), so the returns are
    // quantized to an exact micro-grid first: ri = round(r·1e6) as
    // BIGINT. Integer comparisons against the exactly-representable .5
    // boundary agree bit-for-bit in both engines, the moments are exact
    // BIGINT sums, and the closed form is row-local double math.
    Qry(
      "q134_volatility",
      s"""WITH p AS (SELECT l_suppkey, l_extendedprice,
         |    lag(l_extendedprice) OVER (PARTITION BY l_suppkey
         |      ORDER BY $SeriesOrder) AS prev
         |  FROM lineitem),
         |rts AS (SELECT l_suppkey,
         |    CAST(round(ln(l_extendedprice / prev) * 1e6) AS BIGINT) AS ri
         |  FROM p WHERE prev IS NOT NULL),
         |m AS (SELECT l_suppkey, COUNT(*) AS n,
         |    CAST(SUM(ri) AS BIGINT) AS sx,
         |    CAST(SUM(ri * ri) AS BIGINT) AS sxx
         |  FROM rts GROUP BY 1)
         |SELECT l_suppkey, n AS n_returns,
         |  round(CASE WHEN n > 0
         |      AND CAST(sxx AS DOUBLE) / n
         |        - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) >= 0
         |    THEN sqrt(CAST(sxx AS DOUBLE) / n
         |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / 1e6
         |    END, 6) AS volatility
         |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      val rts = Tables(spark, dir).lineitem
        .select($"l_suppkey", $"l_extendedprice",
          lag($"l_extendedprice", 1).over(w).as("prev"))
        .filter($"prev".isNotNull)
        .select($"l_suppkey",
          round(log($"l_extendedprice" / $"prev") * lit(1e6))
            .cast("long").as("ri"))
      val m = rts.groupBy($"l_suppkey")
        .agg(count(one).as("n"), sum($"ri").as("sx"),
          sum($"ri" * $"ri").as("sxx"))
      val variance = $"sxx".cast("double") / $"n" -
        ($"sx".cast("double") / $"n") * ($"sx".cast("double") / $"n")
      m.select($"l_suppkey", $"n".as("n_returns"),
        round(when($"n" > 0 && variance >= 0, sqrt(variance) / lit(1e6)), 6)
          .as("volatility"))
    },

    // Run-length analytics over event sequences.
    // ---- run-length encoding of per-user event-type sequences ----------
    // RLE as windows: a run starts where the type differs from its lag;
    // run ids are the running sum of starts; run lengths fall out of one
    // aggregate. Sequence position (ms, event_id) is a total order, all
    // arithmetic is integral, and the whole thing is two windows + two
    // aggregates on ONE user_id shuffle — the streak/compression
    // analytics shape (longest streak, mean run length).
    Qry(
      "q135_type_runs",
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id FROM events),
        |f AS (SELECT user_id, event_type, ms, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |      AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |r AS (SELECT user_id, event_type,
        |    SUM(st) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
        |  FROM f),
        |runs AS (SELECT user_id, rid, COUNT(*) AS len
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_runs,
        |  CAST(MAX(len) AS BIGINT) AS longest_run,
        |  CAST(SUM(len) AS BIGINT) AS n_events
        |FROM runs GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir).events
        .select($"user_id", $"event_type", unix_millis($"ts").as("ms"),
          $"event_id")
        .withColumn("st",
          when(lag($"event_type", 1).over(w).isNull ||
            lag($"event_type", 1).over(w) =!= $"event_type", 1)
            .otherwise(0))
        .withColumn("rid", sum($"st").over(wRun))
        .groupBy($"user_id", $"rid")
        .agg(count(one).as("len"))
        .groupBy($"user_id")
        .agg(count(one).as("n_runs"), max($"len").as("longest_run"),
          sum($"len").as("n_events"))
    },

    // Last-touch attribution (as-of join with tolerance under the gate) and
    // log-scale gap histograms.
    // ---- last-touch attribution (as-of + tolerance) --------------------
    // Each purchase attributes to the SAME USER's latest click no older
    // than 30 minutes — the marketing-attribution shape, and the gate
    // coverage for AsOfJoin's tolerance parameter (matches beyond the
    // window become NULL, not dropped rows). Same single-shuffle
    // union+window machinery as q25.
    Qry(
      "q136_attribution",
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |base AS (
        |  SELECT p.event_id, p.user_id,
        |    CASE WHEN p.ms - c.ms <= 1800000 THEN c.event_id END
        |      AS click_id,
        |    CASE WHEN p.ms - c.ms <= 1800000 THEN p.ms - c.ms END
        |      AS age_ms,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ms DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ms <= p.ms)
        |SELECT user_id,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_attributed,
        |  CAST(SUM(COALESCE(age_ms, 0)) AS BIGINT) AS age_ms_sum
        |FROM base WHERE rn = 1
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"event_id", $"user_id", unix_millis($"ts").as("ms"),
          $"event_type", $"value")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ms")
      val clicks = ev.filter($"event_type" === "click")
      AsOfJoin.backward(
          purchases, clicks,
          keys = Seq("user_id" -> "user_id"),
          leftTime = "ms", rightTime = "ms",
          carry = Seq("event_id" -> "click_id", "ms" -> "click_ms"),
          rightTieBreak = Seq("event_id"),
          tolerance = Some(1800000L))
        .groupBy($"user_id")
        .agg(count(one).as("n_purchases"),
          sum(when($"click_id".isNotNull, 1L).otherwise(0L))
            .as("n_attributed"),
          sum(coalesce($"ms" - $"click_ms", lit(0L))).as("age_ms_sum"))
    },

    // ---- log-scale inter-event gap histogram ---------------------------
    // Power-of-two bucketing of inter-event gaps per event type — the
    // latency-histogram shape (the reference reports its latencies in
    // percentile bands; a log2 histogram is the streaming-friendly
    // fixed-width equivalent). floor(log2(n)) is exact for BIGINT gaps
    // in both engines (log2 of an integer never lands within an ulp of
    // an integer unless the input is a power of two, where it is exact).
    Qry(
      "q137_gap_histogram",
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |g AS (SELECT event_type,
        |    ms - lag(ms) OVER (PARTITION BY event_type
        |      ORDER BY ms, event_id) AS gap
        |  FROM e),
        |b AS (SELECT event_type,
        |    CASE WHEN gap <= 0 THEN -1
        |      ELSE CAST(floor(log2(CAST(gap AS DOUBLE))) AS BIGINT) END
        |      AS bucket
        |  FROM g WHERE gap IS NOT NULL)
        |SELECT event_type, bucket, COUNT(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"ms", $"event_id")
      Tables(spark, dir).events
        .select($"event_type", $"event_id", unix_millis($"ts").as("ms"))
        .withColumn("gap", $"ms" - lag($"ms", 1).over(w))
        .filter($"gap".isNotNull)
        .withColumn("bucket",
          when($"gap" <= 0, lit(-1L))
            .otherwise(floor(log2($"gap".cast("double"))).cast("long")))
        .groupBy($"event_type", $"bucket")
        .agg(count(one).as("n"))
    },

    // ---- in-session conversion ------------------------------------------
    // Sessionize (30-minute gap, q30's semantics), then flag sessions
    // where some purchase lands at-or-after the first click — the
    // within-session conversion rate. Session assembly is one shuffle;
    // the conversion test is two conditional aggregates per session.
    Qry(
      "q139_session_conversion",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |flags AS (
        |  SELECT user_id, event_id, event_type, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |           OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, ms,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags),
        |s AS (SELECT user_id, sid,
        |    MIN(CASE WHEN event_type = 'click' THEN ms END) AS first_click,
        |    MAX(CASE WHEN event_type = 'purchase' THEN ms END)
        |      AS last_purchase
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN first_click IS NOT NULL
        |    AND last_purchase IS NOT NULL
        |    AND last_purchase >= first_click THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_converted
        |FROM s GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"user_id", $"event_id", $"event_type",
          unix_millis($"ts").as("ms"))
      Sessionize.byGap(ev, Seq("user_id"), "ms", gapMs = 1800000L,
          tieBreak = Seq("event_id"))
        .groupBy($"user_id", $"session_id")
        .agg(
          min(when($"event_type" === "click", $"ms")).as("first_click"),
          max(when($"event_type" === "purchase", $"ms"))
            .as("last_purchase"))
        .groupBy($"user_id")
        .agg(count(one).as("n_sessions"),
          sum(when($"first_click".isNotNull && $"last_purchase".isNotNull
            && $"last_purchase" >= $"first_click", 1L).otherwise(0L))
            .as("n_converted"))
    },

    // ---- month-over-month revenue change --------------------------------
    // Period-over-period deltas per series: decimal-exact monthly sums,
    // lag window, one guarded rounded ratio — the BI trend shape.
    Qry(
      "q140_mom_change",
      s"""WITH m AS (SELECT l_returnflag,
         |    date_trunc('month', l_shipdate) AS month,
         |    ${dsumSql("l_extendedprice")} AS rev
         |  FROM lineitem GROUP BY 1, 2),
         |p AS (SELECT l_returnflag, month, rev,
         |    lag(rev) OVER (PARTITION BY l_returnflag ORDER BY month)
         |      AS prev
         |  FROM m)
         |SELECT l_returnflag, month, rev,
         |  round(CASE WHEN prev > 0 THEN (rev - prev) / prev END, 6)
         |    AS mom_change
         |FROM p""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"l_returnflag").orderBy($"month")
      Tables(spark, dir).lineitem
        .groupBy($"l_returnflag",
          date_trunc("month", $"l_shipdate").as("month"))
        .agg(dsum($"l_extendedprice").as("rev"))
        .withColumn("prev", lag($"rev", 1).over(w))
        .select($"l_returnflag", $"month", $"rev",
          round(when($"prev" > 0, ($"rev" - $"prev") / $"prev"), 6)
            .as("mom_change"))
    },

    // Cohort lifetime-value curves and calendar activity heatmaps.
    // ---- cohort LTV curve ----------------------------------------------
    // Users cohorted by first-activity WEEK (ISO Monday start, identical
    // in both engines); per (cohort, age-in-weeks) the active-user count
    // and decimal-exact value sum — the lifetime-value curve behind
    // q97's retention triangle. Week age is INTEGER day arithmetic
    // (epoch-day difference div 7), never a date-diff double.
    Qry(
      "q141_cohort_ltv",
      s"""WITH e AS (SELECT user_id, value,
         |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
         |  FROM events),
         |c AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY 1),
         |j AS (SELECT e.user_id, e.value, c.cohort,
         |    (e.wk - c.cohort) // 7 AS age_weeks
         |  FROM e JOIN c ON e.user_id = c.user_id)
         |SELECT cohort, CAST(age_weeks AS BIGINT) AS age_weeks,
         |  COUNT(DISTINCT user_id) AS n_active,
         |  ${dsumSql("value")} AS val_sum
         |FROM j GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).events
        .select($"user_id", $"value",
          to_date(date_trunc("week", $"ts")).as("wk"))
      val c = e.groupBy($"user_id").agg(min($"wk").as("cohort"))
      e.join(c, Seq("user_id"))
        .withColumn("age_weeks",
          ((unix_date($"wk") - unix_date($"cohort")) / 7).cast("long"))
        .groupBy($"cohort", $"age_weeks")
        .agg(countDistinct($"user_id").as("n_active"),
          dsum($"value").as("val_sum"))
    },

    // ---- calendar activity heatmap --------------------------------------
    // ISO-dow × hour-of-day activity grid with each cell's share of its
    // day — the weekly-rhythm feed (q105's dow bridge reused; the share
    // is a guarded rounded ratio of exact counts).
    Qry(
      "q142_activity_heatmap",
      """WITH g AS (SELECT
        |    CAST(isodow(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS day_total
        |  FROM g GROUP BY 1)
        |SELECT g.dow, g.hr, g.n,
        |  round(CASE WHEN day_total > 0
        |    THEN CAST(g.n AS DOUBLE) / day_total END, 6) AS day_share
        |FROM g JOIN d ON g.dow = d.dow""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val g = Tables(spark, dir).events
        .groupBy((((dayofweek($"ts") + 5) % 7) + 1).as("dow"),
          hour($"ts").as("hr"))
        .agg(count(one).as("n"))
      val d = g.groupBy($"dow".as("ddow"))
        .agg(sum($"n").as("day_total"))
      g.join(d, $"dow" === $"ddow")
        .select($"dow", $"hr", $"n",
          round(when($"day_total" > 0,
            $"n".cast("double") / $"day_total"), 6).as("day_share"))
    },

    // Linear interpolation over a calendar spine — the missing member of
    // the gap-handling family (q71 LOCF fill-forward, q118 zero-fill; this
    // one reconstructs interior values from BOTH neighbors, the standard
    // time-series-db resampling fill).
    // ---- linear interpolation on per-user daily series ------------------
    // Per-user daily mean value (decimal-exact mean), spine over each
    // user's own [first, last] active day (sequence()/explode — q118's
    // bounded per-group generator), then every MISSING interior day gets
    // v_prev + (v_next − v_prev)·(d − d_prev)/(d_next − d_prev) from the
    // nearest observed neighbors via IGNORE NULLS running windows
    // (q71's proven cross-engine construct; both directions here). Gap
    // rows are strictly interior — the spine is bounded by observed
    // days — so neighbors always exist. One shuffle on user_id carries
    // both windows; day arithmetic is integer (epoch days); the final
    // double expression is evaluated identically by both engines and
    // rounded at 6 dp. Only the interpolated rows are emitted.
    Qry(
      "q144_linear_interp",
      s"""WITH daily AS (SELECT user_id,
         |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         |    ${davgSql("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
         |  FROM daily GROUP BY 1),
         |spine AS (SELECT user_id,
         |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
         |      AS day
         |  FROM b),
         |j AS (SELECT s.user_id, s.day,
         |    date_diff('day', DATE '1970-01-01', s.day) AS di, d.v
         |  FROM spine s LEFT JOIN daily d
         |    ON s.user_id = d.user_id AND s.day = d.day),
         |f AS (SELECT user_id, day, di, v,
         |    last_value(v IGNORE NULLS) OVER wp AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS)
         |      OVER wp AS pdi,
         |    first_value(v IGNORE NULLS) OVER wn AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS)
         |      OVER wn AS ndi
         |  FROM j
         |  WINDOW wp AS (PARTITION BY user_id ORDER BY di
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wn AS (PARTITION BY user_id ORDER BY di
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, day, CAST(ndi - pdi AS BIGINT) AS gap_len,
         |  round(pv + (nv - pv) * (CAST(di - pdi AS DOUBLE)
         |    / CAST(ndi - pdi AS DOUBLE)), 6) AS v_interp
         |FROM f WHERE v IS NULL""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val daily = Tables(spark, dir).events
        .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"),
          $"value")
        .groupBy($"user_id", $"day")
        .agg(davg($"value").as("v"))
      val spine = daily.groupBy($"user_id")
        .agg(min($"day").as("lo"), max($"day").as("hi"))
        .select($"user_id",
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val j = spine.join(daily, Seq("user_id", "day"), "left")
        .select($"user_id", $"day", unix_date($"day").as("di"), $"v")
      val wp = Window.partitionBy($"user_id").orderBy($"di")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy($"user_id").orderBy($"di")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDi = when($"v".isNotNull, $"di")
      j.select($"user_id", $"day", $"di", $"v",
          last($"v", ignoreNulls = true).over(wp).as("pv"),
          last(obsDi, ignoreNulls = true).over(wp).as("pdi"),
          first($"v", ignoreNulls = true).over(wn).as("nv"),
          first(obsDi, ignoreNulls = true).over(wn).as("ndi"))
        .filter($"v".isNull)
        .select($"user_id", $"day",
          ($"ndi" - $"pdi").cast("long").as("gap_len"),
          round($"pv" + ($"nv" - $"pv") *
            (($"di" - $"pdi").cast("double") /
              ($"ndi" - $"pdi").cast("double")), 6).as("v_interp"))
    },

    // ---- counter increase / rate with reset detection -------------------
    // The telemetry-counter semantics (PromQL increase()/rate()): per
    // series, sum the positive deltas; a NEGATIVE delta means the
    // counter reset and the post-reset value is the contribution. All
    // delta arithmetic runs in DECIMAL space (2-dp doubles cast exactly;
    // decimal lag/subtract/sum are exact and order-independent on both
    // engines — the established dsum discipline), one double division at
    // the end for the per-second rate. One shuffle on user_id: the lag
    // window and the aggregate share it.
    Qry(
      "q145_counter_rate",
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
        |    CAST(value AS DECIMAL(28,6)) AS v
        |  FROM events),
        |d AS (SELECT user_id, ms, v, v - lag(v) OVER w AS dv
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT user_id, COUNT(*) AS n_samples,
        |  CAST(SUM(CASE WHEN dv < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_resets,
        |  CAST(SUM(CASE WHEN dv IS NULL THEN NULL
        |    WHEN dv >= 0 THEN dv ELSE v END) AS DOUBLE) AS increase,
        |  CASE WHEN MAX(ms) > MIN(ms) THEN
        |    round(CAST(SUM(CASE WHEN dv IS NULL THEN NULL
        |      WHEN dv >= 0 THEN dv ELSE v END) AS DOUBLE) * 1000
        |      / (MAX(ms) - MIN(ms)), 6) END AS rate_per_s
        |FROM d GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val d = Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"value".cast(Money).as("v"))
        .select($"user_id", $"ms", $"v",
          ($"v" - lag($"v", 1).over(w)).as("dv"))
      val contrib = when($"dv".isNull, lit(null))
        .when($"dv" >= 0, $"dv").otherwise($"v")
      val span = max($"ms") - min($"ms")
      d.groupBy($"user_id")
        .agg(count(one).as("n_samples"),
          sum(when($"dv" < 0, 1L).otherwise(0L)).as("n_resets"),
          sum(contrib).cast("double").as("increase"),
          when(span > 0,
            round(sum(contrib).cast("double") * 1000 / span, 6))
            .as("rate_per_s"))
    },

    // CUSUM mean-shift detection (q170): the classic change-point
    // monitor over each event-value series — running deviation-from-
    // mean sums whose extremes (and their times) localize level shifts.
    // Complements q111 (drawdown on running sums) and q112 (pointwise
    // MAD outliers) with the sustained-shift detector between them.
    // (An event-time lateness audit was tried for this slot and
    // dropped: the fixture's per-user streams are perfectly ordered,
    // so the result was a degenerate single row.)
    // ---- CUSUM mean-shift detection per event series ------------------
    // The change-point monitor: running sum of deviations from the
    // series mean; a sustained level shift drives the path to its
    // extremes, white noise keeps it near zero. Peak/trough AND their
    // times ship per series. Determinism: the mean is decimal-exact;
    // per-row deviation is row-local double on that shared mean; the
    // running sum accumulates in DECIMAL over a set-defined prefix
    // (order-independent within each prefix); peak/trough are min/max
    // of those exact values, and their locations match on the exact
    // bit pattern with MIN(ms) as the tie-break. Scale shape: one
    // event_type exchange, one sorted window pass, 5-row output — the
    // q111 drawdown discipline applied to deviation paths.
    Qry(
      "q170_cusum_shift",
      s"""WITH e AS (${Relational.eventsMsSql}),
         |d AS (SELECT event_type, ms, event_id, value,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6)))
         |        OVER (PARTITION BY event_type) AS DOUBLE)
         |      / COUNT(value) OVER (PARTITION BY event_type) AS mean
         |  FROM e),
         |cs AS (SELECT event_type, ms,
         |    CAST(SUM(CAST(value - mean AS DECIMAL(28,6)))
         |      OVER (PARTITION BY event_type ORDER BY ms, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) AS cusum
         |  FROM d),
         |x AS (SELECT event_type, ms, cusum,
         |    MAX(cusum) OVER (PARTITION BY event_type) AS peak,
         |    MIN(cusum) OVER (PARTITION BY event_type) AS trough
         |  FROM cs)
         |SELECT event_type, COUNT(*) AS n,
         |  MAX(peak) AS peak, MIN(CASE WHEN cusum = peak THEN ms END)
         |    AS peak_ms,
         |  MAX(trough) AS trough, MIN(CASE WHEN cusum = trough THEN ms END)
         |    AS trough_ms
         |FROM x GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).events
        .select($"event_type", $"event_id", unix_millis($"ts").as("ms"),
          $"value")
      val wRun = Window.partitionBy($"event_type")
        .orderBy($"ms", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"event_type")
      // the series mean as an UNORDERED window over the same partition
      // key (decimal-exact) — not a separate aggregate + join, which
      // planned a second full scan of events
      // COUNT(value), not COUNT(*): with NULL values the sum drops them
      // but COUNT(*) would still count them, biasing the mean (the
      // fixture is non-null; this pins avg() semantics either way)
      e.withColumn("mean",
          sum($"value".cast(graft.Exact.Money)).over(wAll).cast("double")
            / count($"value").over(wAll))
        .withColumn("cusum",
          sum(($"value" - $"mean").cast(graft.Exact.Money)).over(wRun)
            .cast("double"))
        .withColumn("peak", max($"cusum").over(wAll))
        .withColumn("trough", min($"cusum").over(wAll))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          max($"peak").as("peak"),
          min(when($"cusum" === $"peak", $"ms")).as("peak_ms"),
          max($"trough").as("trough"),
          min(when($"cusum" === $"trough", $"ms")).as("trough_ms"))
    },

    // Rolling median (q175): exact trailing-window order statistic
    // (lower median of the last 20 values per user) — the robust
    // moving-center that q17's moving AVERAGE cannot provide under
    // outliers; completes the percentile family (q20/q50/q88/q101/
    // q112/q138 are all group-global) with the windowed form.
    // ---- exact rolling (lower) median per user ------------------------
    // Order statistic over a trailing ROWS window: collect the window,
    // sort, take the ⌈n/2⌉-th smallest — EXACT (an element of the
    // window, no interpolation), so both engines agree bit-for-bit on
    // doubles. Scale shape: one user_id exchange + sorted window pass;
    // the per-row cost is WindowSize·log(WindowSize) with bounded
    // memory (ROWS frame of 20). The output is restricted to each
    // user's last event to keep the emitted surface one row per key
    // (the full path is the same frame unfiltered).
    Qry(
      "q175_rolling_median",
      s"""WITH e AS (SELECT user_id, event_id, value FROM events
         |      WHERE value IS NOT NULL),
         |w AS (SELECT user_id, event_id, value,
         |    list_sort(list(value) OVER (PARTITION BY user_id
         |      ORDER BY event_id
         |      ROWS BETWEEN ${MedWin - 1} PRECEDING AND CURRENT ROW))
         |      AS win,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY event_id DESC) AS rnd
         |  FROM e)
         |SELECT user_id, event_id, value,
         |  win[(len(win) + 1) // 2] AS roll_med,
         |  CAST(len(win) AS BIGINT) AS win_n
         |FROM w WHERE rnd = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val wMed = Window.partitionBy($"user_id").orderBy($"event_id")
        .rowsBetween(-(MedWin - 1), Window.currentRow)
      val wLast = Window.partitionBy($"user_id").orderBy($"event_id".desc)
      // NULL values are filtered BEFORE the window on both sides:
      // DuckDB list_sort puts NULLs first, Spark array_sort last, so a
      // NULL inside the window would shift the lower-median element
      Tables(spark, dir).events
        .select($"user_id", $"event_id", $"value")
        .filter($"value".isNotNull)
        .withColumn("win", array_sort(collect_list($"value").over(wMed)))
        .withColumn("rnd", row_number().over(wLast))
        .filter($"rnd" === 1)
        .select($"user_id", $"event_id", $"value",
          expr("win[((size(win) + 1) DIV 2) - 1]").as("roll_med"),
          size($"win").cast("bigint").as("win_n"))
    },

    // Last-touch session attribution — the canonical event-
    // analytics composition: click sessions (30-min gap) + backward
    // as-of from each purchase to its latest prior click, carrying the
    // click's session id, then the session's stats joined back. One
    // operator library, three reused pieces, zero new shuffle shapes.
    // ---- last-touch session attribution -----------------------------------
    Qry(
      "q250_attribution",
      s"""WITH e AS (${Relational.eventsMsSql}),
         |c AS (SELECT user_id, event_id, ms FROM e
         |      WHERE event_type = 'click'),
         |flags AS (
         |  SELECT user_id, event_id, ms,
         |    CASE WHEN lag(ms) OVER w IS NULL
         |           OR ms - lag(ms) OVER w >= $GapMs THEN 1 ELSE 0 END
         |      AS new_s
         |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |sess AS (
         |  SELECT user_id, event_id, ms,
         |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS session_id
         |  FROM flags),
         |st AS (SELECT user_id, session_id, MIN(ms) AS session_start_ms,
         |    COUNT(*) AS session_clicks
         |  FROM sess GROUP BY 1, 2),
         |p AS (SELECT event_id, user_id, ms FROM e
         |      WHERE event_type = 'purchase'),
         |att AS (SELECT event_id, user_id, ms, click_id, session_id,
         |    ms - click_ms AS gap_ms
         |  FROM (
         |    SELECT p.*, s.event_id AS click_id, s.ms AS click_ms,
         |      s.session_id,
         |      row_number() OVER (PARTITION BY p.event_id
         |                         ORDER BY s.ms DESC, s.event_id DESC)
         |        AS rn
         |    FROM p LEFT JOIN sess s
         |      ON p.user_id = s.user_id AND s.ms <= p.ms)
         |  WHERE rn = 1)
         |SELECT a.event_id, a.user_id, a.ms, a.click_id,
         |  CAST(a.session_id AS BIGINT) AS session_id,
         |  st.session_start_ms,
         |  CAST(st.session_clicks AS BIGINT) AS session_clicks,
         |  a.gap_ms
         |FROM att a LEFT JOIN st
         |  ON a.user_id = st.user_id AND a.session_id = st.session_id"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"event_type")
      val sess = Sessionize.byGap(
        ev.filter($"event_type" === "click")
          .select($"user_id", $"event_id", $"ms"),
        keys = Seq("user_id"), timeMs = "ms", gapMs = GapMs,
        tieBreak = Seq("event_id"))
      val st = sess.groupBy($"user_id".as("su"), $"session_id".as("sid"))
        .agg(min($"ms").as("session_start_ms"),
          count(one).as("session_clicks"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ms")
      AsOfJoin.backward(
          purchases, sess,
          keys = Seq("user_id" -> "user_id"),
          leftTime = "ms", rightTime = "ms",
          carry = Seq("event_id" -> "click_id", "ms" -> "click_ms",
            "session_id" -> "session_id"),
          rightTieBreak = Seq("event_id"))
        .join(st, $"user_id" === $"su" && $"session_id" === $"sid",
          "left_outer")
        .select($"event_id", $"user_id", $"ms", $"click_id",
          $"session_id", $"session_start_ms", $"session_clicks",
          ($"ms" - $"click_ms").as("gap_ms"))
    },

    // Additive seasonal decomposition of the hourly event-value
    // series per event type — trend (centered 24-slot moving average),
    // seasonal (per hour-of-day mean of the detrended series),
    // remainder. Everything is INTEGER: hourly sums become exact cents
    // via the decimal cast (values carry <= 2 true decimals, the Exact
    // contract), the moving average and the seasonal mean are
    // sum*1000 DIV count in a declared flooring order — so the whole
    // decomposition hash-matches cross-engine with no float anywhere.
    // Scale shape: one corpus-sized partial aggregate to hourly rows;
    // both window passes run over the bounded (type x hour) series,
    // never corpus rows.
    // ---- additive seasonal decomposition ---------------------------------
    Qry(
      "q264_seasonal_decompose",
      SeasonalOracle) { (spark, dir) =>
      import spark.implicits._
      seasonalTail(Tables(spark, dir).events
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg((sum($"value".cast(graft.Exact.Money)) * 100)
          .cast(LongType).as("vsum_c")))
    },

    // q264's seasonal decomposition as a STREAMING aggregation —
    // events arrive as a file stream, the hourly cents table is a
    // complete-mode streaming groupBy (one stateful operator), and the
    // trend/seasonal/remainder tail runs post-sink over the bounded
    // (type x hour) series. Shares q264's oracle text VERBATIM (the
    // q192/q193/q248 pattern).
    // ---- seasonal decomposition under Structured Streaming ----------------
    Qry("q267_stream_seasonal", SeasonalOracle) { (spark, dir) =>
      import spark.implicits._
      val h = Streams.fileStream(spark, dir, "events")
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg((sum($"value".cast(graft.Exact.Money)) * 100)
          .cast(LongType).as("vsum_c"))
      // hourly cents table = the streaming aggregation; the
      // decomposition tail runs post-sink over the bounded series
      seasonalTail(Streams.runToMemory(h, "complete"))
    },

    // Cross-correlation lag finder over the hourly event-value
    // series — for every event-type pair and lag in [-6, +6] hours,
    // the scale-free covariance score n·Σxy − Σx·Σy on the aligned
    // overlap (exact integer cents; no mean, no variance, no float),
    // rank 1 per pair = the lag that maximizes co-movement — the
    // "does errors follow clicks by N hours?" primitive. BIGINT
    // headroom: |score| <= 2·n·(Σ|x| per hour)² — at 1e6 cents/hour
    // and 1e4 hours that is ~1e19 < 2^63; the hourly pre-aggregation
    // is what keeps the bound series-sized, not corpus-sized. Scale
    // shape: one corpus-sized hourly aggregate; the lag join and the
    // rank run over the bounded (pairs x lags x hours) series.
    // ---- cross-correlation lag finder --------------------------------------
    Qry(
      "q271_xcorr_lag",
      s"""WITH h AS (SELECT event_type,
         |    epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600
         |      AS hi,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6)) * 100) AS BIGINT)
         |      AS vc
         |  FROM events GROUP BY 1, 2),
         |lags AS (SELECT unnest(range(-$MaxLag, ${MaxLag + 1})) AS lag),
         |xc AS (SELECT a.event_type AS t1, b.event_type AS t2, l.lag,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(*) * SUM(a.vc * b.vc)
         |      - SUM(a.vc) * SUM(b.vc) AS BIGINT) AS score
         |  FROM h a JOIN lags l ON true
         |    JOIN h b ON b.event_type > a.event_type
         |      AND b.hi = a.hi + l.lag
         |  GROUP BY 1, 2, 3)
         |SELECT t1, t2, CAST(lag AS BIGINT) AS lag, n, score,
         |  CAST(row_number() OVER (PARTITION BY t1, t2
         |    ORDER BY score DESC, abs(lag), lag) AS BIGINT) AS rn
         |FROM xc""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // staged: the hourly series feeds both sides of the lag join
      val h = Staging.stage(Tables(spark, dir).events
        .groupBy($"event_type",
          (unix_timestamp(date_trunc("hour", $"ts")) / 3600)
            .cast(LongType).as("hi"))
        .agg((sum($"value".cast(graft.Exact.Money)) * 100)
          .cast(LongType).as("vc")),
        eager = false)
      val lags = (-MaxLag to MaxLag).toDF("lag")
      val xc = h.select($"event_type".as("t1"), $"hi", $"vc")
        .crossJoin(broadcast(lags))
        .join(h.select($"event_type".as("t2"), $"hi".as("hi2"),
          $"vc".as("vc2")),
          $"t2" > $"t1" && $"hi2" === $"hi" + $"lag")
        .groupBy($"t1", $"t2", $"lag")
        .agg(count(one).as("n"),
          (count(one) * sum($"vc" * $"vc2") -
            sum($"vc") * sum($"vc2")).as("score"))
      xc.select($"t1", $"t2", $"lag".cast(LongType).as("lag"), $"n",
          $"score".cast(LongType).as("score"),
          row_number().over(Window.partitionBy($"t1", $"t2")
            .orderBy($"score".desc, abs($"lag"), $"lag"))
            .cast(LongType).as("rn"))
    },

    // Seasonality-adjusted robust anomaly detection — the monitoring rung
    // plain MAD (q295) and CUSUM (q170) lack: a Saturday-night lull is only
    // anomalous against the Saturday-night baseline.
    //
    // Scale shape: ONE corpus-sized count groupBy; medians/MAD/flags run
    // over the calendar-bounded cell table (days × 24 rows per key
    // population), windows partitioned by (dow, hour).
    //
    // Hourly event volumes judged against their OWN (day-of-week, hour)
    // cell: baseline = the exact LOW MEDIAN of that cell's daily counts
    // across the corpus's days, spread = the low median of absolute
    // deviations (MAD), flag when 10⁴·|n−med| > 44478·mad — the q295 trick
    // folding the 3×1.4826 normal-consistency threshold into ONE integer
    // comparison. All order statistics are exact (row_number with (value,
    // date) tie-breaks picks the identical element in both engines); zero
    // floating point.
    Qry("q331_seasonal_anomaly", SeasonalAnomalyOracle) { (spark, dir) =>
      seasonalAnomalyTail(dailyCells(Tables(spark, dir).events))
    },

    // The same monitor as a STREAM — the (date, dow, hour) daily cell
    // counts are a complete-mode streaming aggregation; baseline, MAD and
    // flags run post-sink over the calendar-bounded cell table through the
    // same tail function and oracle text. The deployment shape: the
    // seasonal profile re-derives continuously from bounded state.
    Qry("q332_stream_seasonal_anomaly", SeasonalAnomalyOracle) { (spark, dir) =>
      val cells = dailyCells(Streams.fileStream(spark, dir, "events"))
      seasonalAnomalyTail(Streams.runToMemory(cells, "complete"))
    }
  )
}
