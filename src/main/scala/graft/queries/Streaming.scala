package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.Exact._
import graft.operators.{Dedup, PageRank, Staging, Stats, TextOps}
import graft.sources.{RingRegistry, Tables}
import graft.streaming.Streams

import Helpers.one

/** Per-user running state carried across micro-batches (top-level so the
  * state encoder's generated code can instantiate it). */
case class UserState(n: Long, maxV: Double, sumV: java.math.BigDecimal)

/** Per-user streaming state for q130: event count (ValueState) +
  * distinct event types (MapState used as a set). Top-level so the
  * closure serializes without dragging a query-module reference along. */
class TypeCardinality
    extends StatefulProcessor[Long, (Long, String), (Long, Long, Long)] {
  @transient private var cnt: ValueState[Long] = _
  @transient private var types: MapState[String, Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
      TTLConfig.NONE)
    types = getHandle.getMapState[String, Long]("types", Encoders.STRING,
      Encoders.scalaLong, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var n = if (cnt.exists()) cnt.get() else 0L
    rows.foreach { case (_, t) =>
      n += 1
      if (!types.containsKey(t)) types.updateValue(t, 1L)
    }
    cnt.update(n)
    var k = 0L
    val it = types.keys()
    while (it.hasNext) { it.next(); k += 1 }
    Iterator((key, n, k))
  }
}

/** One enriched tick: the error event plus the latest click at or
  * before its event time (None when the user has no prior click). */
final case class EnrichedTick(event_id: Long, user_id: Long, ms: Long,
    value: Double, click_id: Option[Long], click_ms: Option[Long],
    click_value: Option[Double])

/** Per-user streaming as-of state: the latest reference (click) row seen
  * so far, as (ms, event_id, value). Ticks and reference rows arrive in
  * ONE keyed stream (kind flag `is_ref`); within a micro-batch the rows
  * are applied in event-time order (references before ticks at equal
  * time — the as-of bound is inclusive; among same-ms references the
  * highest event_id wins, q25's tie-break), and the ValueState carries
  * the latest reference ACROSS batches, so the state is O(1) per key —
  * the canonical tsdb stream-enrichment shape, not a buffered join.
  *
  * Cross-batch contract (documented, spec-pinned): enrichment is exact
  * when micro-batches respect event-time order per key (an in-order bus,
  * or a watermark-disciplined source). A reference row arriving in a
  * LATER batch than a tick it should have enriched is late data — the
  * same contract every as-of stream processor documents. Top-level class
  * so the closure serializes without a query-module reference. */
class LatestRefEnrich extends StatefulProcessor[
    Long, (Long, Long, Boolean, Long, Double), EnrichedTick] {
  @transient private var latest: ValueState[(Long, Long, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    latest = getHandle.getValueState[(Long, Long, Double)]("latest",
      Encoders.product[(Long, Long, Double)], TTLConfig.NONE)
  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Boolean, Long, Double)],
      timerValues: TimerValues): Iterator[EnrichedTick] = {
    // (user_id, ms, is_ref, event_id, value) in event-time order;
    // references first at equal ms (inclusive as-of), ascending
    // event_id so the last applied same-ms reference is the max id
    val ordered = rows.toArray.sortBy(r => (r._2, !r._3, r._4))
    var cur = if (latest.exists()) latest.get() else null
    val out = Vector.newBuilder[EnrichedTick]
    ordered.foreach { case (uid, ms, isRef, eid, v) =>
      if (isRef) {
        if (cur == null || ms > cur._1 || (ms == cur._1 && eid > cur._2))
          cur = (ms, eid, v)
      } else out += (if (cur == null)
        EnrichedTick(eid, uid, ms, v, None, None, None)
      else EnrichedTick(eid, uid, ms, v,
        Some(cur._2), Some(cur._1), Some(cur._3)))
    }
    if (cur != null) latest.update(cur)
    out.result().iterator
  }
}

/** Watermark-buffered streaming as-of state (the production temporal-join
  * contract, vs [[LatestRefEnrich]]'s in-order contract): rows are NOT
  * applied on arrival — they buffer in per-key ListState until the
  * event-time watermark passes them, then apply in event-time order. A
  * reference row arriving a micro-batch LATER than a tick it should have
  * enriched still enriches correctly, as long as it arrives inside the
  * watermark — exactly the reordering tolerance the Flink-style temporal
  * join documents, and the discipline every watermarked Spark stateful
  * operator (windows, stream-stream joins) already applies.
  *
  * Mechanics: `handleInputRows` only appends to the buffer and drains
  * whatever the current watermark has passed; one event-time TIMER per
  * key (at the earliest pending event time) guarantees the drain also
  * happens in watermark-only batches — the batch Spark triggers after
  * the watermark advances with no new data, which is how the tail of
  * the stream flushes. State per key is bounded by the rows inside the
  * watermark delay (the same bound as stream-stream join state): the
  * delay is the knob that trades reordering tolerance for state size.
  *
  * Enrichment semantics are [[LatestRefEnrich]]'s exactly: inclusive
  * as-of bound (references before ticks at equal ms), max event_id wins
  * same-ms reference ties, `latest` ValueState carries the newest
  * DRAINED reference across drains. Top-level class so the closure
  * serializes without a query-module reference. */
class BufferedAsOfEnrich extends StatefulProcessor[
    Long, (Long, Long, Boolean, Long, Double, Timestamp), EnrichedTick] {
  @transient private var latest: ValueState[(Long, Long, Double)] = _
  @transient private var buf: ListState[(Long, Boolean, Long, Double)] = _
  @transient private var timerAt: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    latest = getHandle.getValueState[(Long, Long, Double)]("latest",
      Encoders.product[(Long, Long, Double)], TTLConfig.NONE)
    buf = getHandle.getListState[(Long, Boolean, Long, Double)]("buf",
      Encoders.product[(Long, Boolean, Long, Double)], TTLConfig.NONE)
    timerAt = getHandle.getValueState[Long]("timerAt",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Apply every buffered row the watermark has passed (ms <= wm) in
    * event-time order; keep the rest buffered; maintain the one pending
    * timer at the earliest still-buffered event time. */
  private def drain(key: Long, wm: Long): Iterator[EnrichedTick] = {
    val all = buf.get().toArray
    val (ready, pending) = all.partition(_._1 <= wm)
    val out = Vector.newBuilder[EnrichedTick]
    if (ready.nonEmpty) {
      var cur = if (latest.exists()) latest.get() else null
      // event-time order; references first at equal ms (inclusive
      // as-of), ascending event_id so the last same-ms reference
      // applied is the max id — LatestRefEnrich's tie-break verbatim
      ready.sortBy(r => (r._1, !r._2, r._3)).foreach {
        case (ms, isRef, eid, v) =>
          if (isRef) {
            if (cur == null || ms > cur._1 || (ms == cur._1 && eid > cur._2))
              cur = (ms, eid, v)
          } else out += (if (cur == null)
            EnrichedTick(eid, key, ms, v, None, None, None)
          else EnrichedTick(eid, key, ms, v,
            Some(cur._2), Some(cur._1), Some(cur._3)))
      }
      if (cur != null) latest.update(cur)
      buf.clear()
      if (pending.nonEmpty) buf.appendList(pending)
    }
    val prevTimer = if (timerAt.exists()) timerAt.get() else Long.MinValue
    if (pending.nonEmpty) {
      val next = pending.iterator.map(_._1).min
      if (prevTimer != next) {
        if (prevTimer != Long.MinValue) getHandle.deleteTimer(prevTimer)
        getHandle.registerTimer(next)
        timerAt.update(next)
      }
    } else if (prevTimer != Long.MinValue) {
      getHandle.deleteTimer(prevTimer)
      timerAt.clear()
    }
    out.result().iterator
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Boolean, Long, Double, Timestamp)],
      timerValues: TimerValues): Iterator[EnrichedTick] = {
    // (user_id, ms, is_ref, event_id, value, event-time col) — the 6th
    // field exists so the child plan keeps the watermarked attribute;
    // the ms long is the value the state logic uses
    val add = rows.map(r => (r._2, r._3, r._4, r._5)).toArray
    if (add.nonEmpty) buf.appendList(add)
    drain(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EnrichedTick] = {
    // the fired timer is gone; clear its record so drain re-registers
    // at the new earliest pending time (or not at all)
    timerAt.clear()
    drain(key, timerValues.getCurrentWatermarkInMs())
  }
}

/** Streaming query surface — the reference's capability core re-expressed
  * as Structured Streaming pipelines (SURVEY.md §2.2): windowed VWAP-style
  * aggregation, session windows, and custom per-key state
  * (`flatMapGroupsWithState`) standing in for the reference's
  * consumer-thread analytics (`/root/reference/src/tests/integration_test.rs:239-278`).
  *
  * Each query here RUNS a real streaming query to completion (file-stream
  * source → memory sink) and returns the result, so streaming semantics
  * are covered by the same DuckDB batch oracle as everything else —
  * stream/batch equivalence is the correctness statement, not an analogy.
  */
object Streaming {

  // bounded producer slice: first N events by event_id (deterministic at
  // every SF; LIMIT truncates to the table when smaller)
  private val N = 50000
  private val ringCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private def firstEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id").limit(N)

  private val oracleFirstCte =
    s"""f AS (SELECT event_id, event_type, value
       |  FROM events ORDER BY event_id LIMIT $N)""".stripMargin

  private val SlideMs = 900000L // 15 min
  private val TrendK = 3

  /** The batch as-of CTE (q25's shape over the events slice) — the ONE
    * oracle text shared by the in-order streaming as-of here and the
    * watermark-buffered out-of-order variant (q254), so the two
    * stream designs are provably enriching to the same batch answer. */
  private val AsOfOracle: String =
    """WITH e AS (SELECT event_id, user_id,
      |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_type, value
      |  FROM events)
      |SELECT event_id, user_id, ms, value,
      |  click_id, click_ms, click_value,
      |  ms - click_ms AS gap_ms
      |FROM (
      |  SELECT err.*, c.event_id AS click_id, c.ms AS click_ms,
      |    c.value AS click_value,
      |    row_number() OVER (PARTITION BY err.event_id
      |                       ORDER BY c.ms DESC, c.event_id DESC) AS rn
      |  FROM (SELECT * FROM e WHERE event_type = 'error') err
      |  LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
      |    ON err.user_id = c.user_id AND c.ms <= err.ms)
      |WHERE rn = 1""".stripMargin

  private val DelayMs = 60000L

  val all: Seq[Qry] = Seq(

    // ---- streaming tumbling-window aggregation (VWAP-shape) ------------
    Qry(
      "q44_stream_tumbling",
      s"""SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |    AS bucket,
         |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS val_sum,
         |  ${davgSql("value")} AS val_avg
         |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val src = Streams.fileStream(spark, dir, "events")
      val agg = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(count(one).as("n"), dsum($"value").as("val_sum"),
          davg($"value").as("val_avg"))
      Streams.runToMemory(agg, "complete")
        .select($"window.start".as("bucket"), $"event_type",
          $"n", $"val_sum", $"val_avg")
    },

    // ---- streaming session windows -------------------------------------
    // session_window gap semantics are exclusive (an event exactly gap
    // after the previous one opens a NEW session), hence `>=` in the
    // oracle's new-session flag.
    Qry(
      "q45_stream_sessions",
      s"""WITH e AS (SELECT user_id, event_id,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events),
         |flags AS (
         |  SELECT user_id, event_id, ms, value,
         |    CASE WHEN lag(ms) OVER w IS NULL
         |           OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END
         |      AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |sess AS (
         |  SELECT user_id, ms, value,
         |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flags)
         |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + 1800000 AS end_ms,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS val_sum
         |FROM sess GROUP BY user_id, sid""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val src = Streams.fileStream(spark, dir, "events")
      // floor event time to ms BEFORE sessionizing so gap comparisons
      // happen at the same precision as the oracle's epoch_ms arithmetic
      // (µs-precision session_window vs ms-precision oracle would split
      // differently for gaps within 1ms of the 30-minute boundary)
      val agg = src
        .withColumn("ts", timestamp_millis(unix_millis($"ts")))
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(one).as("n_events"), dsum($"value").as("val_sum"))
      Streams.runToMemory(agg, "complete")
        .select($"user_id",
          unix_millis($"session_window.start").as("start_ms"),
          unix_millis($"session_window.end").as("end_ms"),
          $"n_events", $"val_sum")
    },

    // ---- custom per-key streaming state (flatMapGroupsWithState) -------
    // The reference's per-consumer running aggregates (§2.2 #10, #12;
    // CAS-max §2.3 #19) done as managed keyed state. The decimal sum
    // reproduces Exact.dsum semantics (per-value DECIMAL(28,6) HALF_UP,
    // order-independent) so the oracle matches bit-for-bit.
    Qry(
      "q46_stream_stateful",
      s"""SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
         |  ${dsumSql("value")} AS val_sum
         |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val src = Streams.fileStream(spark, dir, "events")
        .select($"user_id", $"value").as[(Long, Double)]
      val out = src.groupByKey(_._1)
        .flatMapGroupsWithState[UserState, (Long, Long, Double, Double)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid, rows, state: GroupState[UserState]) =>
            val prev = state.getOption.getOrElse(
              UserState(0L, Double.MinValue, java.math.BigDecimal.ZERO))
            var n = prev.n; var mx = prev.maxV; var s = prev.sumV
            rows.foreach { case (_, v) =>
              n += 1
              if (v > mx) mx = v
              s = s.add(java.math.BigDecimal.valueOf(v)
                .setScale(6, java.math.RoundingMode.HALF_UP))
            }
            state.update(UserState(n, mx, s))
            Iterator((uid, n, mx, s.doubleValue))
        }
        .toDF("user_id", "n_events", "max_value", "val_sum")
      // the sink accumulates one running-total row per user per
      // micro-batch; keep only the final one (max n_events — strictly
      // increasing per user), so the result is batch-count agnostic
      Streams.runToMemory(out, "append")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"max_value", $"val_sum")).as("s"))
        .select($"user_id", $"s.n_events", $"s.max_value", $"s.val_sum")
    },

    // ---- stream-stream interval join -----------------------------------
    // Two watermarked streams over the same source (the reference's
    // consumers correlating records across reads): each error joins the
    // same user's clicks from the preceding 10 minutes. Inner
    // stream-stream joins emit pairs eagerly (the watermark only bounds
    // join STATE, not emission), so a run-to-completion produces the
    // complete pair set and the batch oracle states the same result.
    // Both sides are floored to ms BEFORE the join so range boundaries
    // sit at the same precision as the oracle's epoch_ms arithmetic.
    Qry(
      "q79_stream_join",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events),
         |pairs AS (
         |  SELECT err.user_id, err.ms - c.ms AS gap_ms, c.value AS cv
         |  FROM (SELECT * FROM e WHERE event_type = 'error') err
         |  JOIN (SELECT * FROM e WHERE event_type = 'click') c
         |    ON err.user_id = c.user_id
         |   AND c.ms >= err.ms - 600000 AND c.ms <= err.ms)
         |SELECT user_id, COUNT(*) AS n_pairs,
         |  CAST(SUM(gap_ms) AS BIGINT) AS gap_sum,
         |  ${dsumSql("cv")} AS click_val_sum
         |FROM pairs GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      def side() =
        Streams.fileStream(spark, dir, "events")
          .withColumn("ts", timestamp_millis(unix_millis($"ts")))
          .withWatermark("ts", "10 minutes")
      val err = side().filter($"event_type" === "error")
        .select($"user_id", $"ts".as("ts_e"))
      val clk = side().filter($"event_type" === "click")
        .select($"user_id".as("c_user_id"), $"ts".as("ts_c"),
          $"value".as("cv"))
      val joined = err.join(clk,
        $"user_id" === $"c_user_id" &&
          $"ts_c" >= $"ts_e" - expr("interval 10 minutes") &&
          $"ts_c" <= $"ts_e")
        .select($"user_id",
          (unix_millis($"ts_e") - unix_millis($"ts_c")).as("gap_ms"),
          $"cv")
      Streams.runToMemory(joined, "append")
        .groupBy($"user_id")
        .agg(count(one).as("n_pairs"), sum($"gap_ms").as("gap_sum"),
          dsum($"cv").as("click_val_sum"))
    },

    // ---- stream-static enrichment join ---------------------------------
    // The serving-side shape the reference's consumers approximate:
    // a live stream joined against a broadcast static snapshot (per-user
    // lifetime mean), counting above-baseline events per type. The
    // stream-static inner join is STATELESS (no watermark bookkeeping,
    // no join state) — the static side ships once per executor.
    Qry(
      "q87_stream_enrich",
      s"""WITH ua AS (SELECT user_id, ${davgSql("value")} AS user_avg
         |  FROM events GROUP BY 1)
         |SELECT e.event_type, COUNT(*) AS n_above,
         |  ${dsumSql("e.value")} AS val_above_sum
         |FROM events e JOIN ua ON e.user_id = ua.user_id
         |WHERE e.value > ua.user_avg
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val static = Tables(spark, dir).events
        .groupBy($"user_id".as("su"))
        .agg(davg($"value").as("user_avg"))
      val src = Streams.fileStream(spark, dir, "events")
      val agg = src.join(broadcast(static), $"user_id" === $"su")
        .filter($"value" > $"user_avg")
        .groupBy($"event_type")
        .agg(count(one).as("n_above"), dsum($"value").as("val_above_sum"))
      Streams.runToMemory(agg, "complete")
        .select($"event_type", $"n_above", $"val_above_sum")
    },

    // ---- streaming exactly-once dedup ----------------------------------
    // The source delivers every event TWICE (two directory entries for
    // the same file — the at-least-once shape of a replayed upstream);
    // streaming dropDuplicates on the event key collapses it back to the
    // batch truth, which is exactly what the oracle states. Aggregation
    // of the deduped append stream happens batch-side on the sink (one
    // stateful operator per streaming query). At production scale the
    // dedup state would be bounded with dropDuplicatesWithinWatermark.
    Qry(
      "q94_stream_dedup",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS val_sum
         |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val src = Streams.fileStreamDup(spark, dir, "events", copies = 2)
        .select($"event_id", $"event_type", $"value")
        .dropDuplicates("event_id")
      Streams.runToMemory(src, "append")
        .groupBy($"event_type")
        .agg(count(one).as("n_events"), dsum($"value").as("val_sum"))
    },

    // TransformWithState (the Spark 4 arbitrary-state streaming API) under
    // the oracle gate.
    // ---- transformWithState under the gate -----------------------------
    // The current-generation stateful API (typed ValueState + MapState,
    // RocksDB-backed — transformWithState requires the RocksDB provider)
    // computing per-user event count + distinct-type cardinality across
    // micro-batches. Append-mode running rows collapse to the final
    // per-user row via the strictly-increasing count (q46's pattern), so
    // stream/batch equivalence is the oracle statement.
    Qry(
      "q130_stream_tws",
      """SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = Streams.fileStream(spark, dir, "events")
          .select($"user_id", $"event_type").as[(Long, String)]
        val out = src.groupByKey(_._1)
          .transformWithState(new TypeCardinality, TimeMode.None(),
            OutputMode.Append())
          .toDF("user_id", "n_events", "n_types")
        Streams.runToMemory(out, "append")
          .groupBy($"user_id")
          .agg(max(struct($"n_events", $"n_types")).as("s"))
          .select($"user_id", $"s.n_events", $"s.n_types")
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // The unbounded-non-file-source gap. Every other streaming entry in the
    // catalog reads a bounded file stream; the reference's ingest side is
    // an unbounded in-process queue
    // (`reference/src/memory/low_latency_mpmc_ring.rs:62-135`), and
    // the closest oracle-checkable Spark analog is the rate source — a true
    // unbounded source with a deterministic payload (`value` = row index),
    // bounded HERE by result-count polling rather than source exhaustion
    // (see [[graft.streaming.Streams.boundedRate]]). The DuckDB oracle
    // regenerates the same index space with `range()` — no parquet table
    // involved, which is the point: the data never existed as files.
    // ---- unbounded source, bounded consumption --------------------------
    // First 10k records of the rate stream, keyed-aggregated batch-side
    // after the bounded read (dedup/agg over an unbounded source with a
    // deterministic prefix). The catalog's other streaming queries prove
    // watermarks/state; this one proves the catalog can consume a source
    // that NEVER ends — the reference's actual operating mode.
    Qry(
      "q147_rate_source",
      """SELECT range % 7 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(range) AS BIGINT) AS sv
        |FROM range(0, 10000) GROUP BY 1""".stripMargin) { (spark, _) =>
      Streams.boundedRate(spark, 10000L)
        .groupBy((col("value") % 7).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    },

    // The message-bus source. Both queries run the catalog's OWN bus — the
    // in-process MPMC ring behind the `graft-ring` DataSource V2 source
    // (sources/RingSource.scala), the Spark-native restatement of the
    // reference's core ring buffer
    // (`reference/src/memory/low_latency_mpmc_ring.rs:36-135`) — and
    // pin down its two overflow policies with deterministic end states a
    // DuckDB oracle can regenerate from the events fixture:
    //
    // On the `collect()` here: it is the PRODUCER harness, not a data-plane
    // operator — a message bus's producers are by definition processes
    // outside the engine, and these queries need deterministic ones. The
    // engine-side path (source → micro-batches → sink → aggregate) never
    // collects an unbounded set; the bounded slice mirrors how every other
    // streaming catalog entry feeds its source (file copies, rate bound).
    //
    // Drop-oldest (q148): fill the ring PAST capacity with no consumer
    // attached; the bus must retain exactly the LAST `capacity` records
    // and evict the prefix ("forcibly incrementing consumer pointer",
    // `reference/README.md:436`). Deterministic because eviction
    // order is enqueue order.
    // ---- bus overflow: drop-oldest retention ---------------------------
    // 4096-slot ring, no consumer, N >> 4096 producer records: the
    // retained window is exactly the last 4096 by enqueue (= event_id)
    // order, the evicted prefix is counted in `dropped`, and the stream
    // that then attaches begins at the oldest RETAINED offset. At-most-
    // once by declared policy — observable, never silent.
    Qry(
      "q148_ring_dropoldest",
      s"""WITH $oracleFirstCte,
         |r AS (SELECT *, row_number() OVER (ORDER BY event_id) AS rn,
         |        count(*) OVER () AS cnt FROM f)
         |SELECT event_type, COUNT(*) AS n_kept,
         |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
         |  ${dsumSql("value")} AS val_sum
         |FROM r WHERE rn > cnt - 4096
         |GROUP BY event_type""".stripMargin) { (spark, dir) =>
      val name = s"q148_${ringCounter.incrementAndGet()}"
      val src = firstEvents(spark, dir)
      val rows = src.collect()
      val ring = RingRegistry.create(name, src.schema,
        capacity = 4096, dropOldest = true)
      try {
        // producer side: overflow by design; drop-oldest always accepts
        rows.foreach(r => require(ring.tryEnqueue(r)))
        val got = Streams.runToMemory(
          Streams.ringStream(spark, name), "append")
        got.groupBy("event_type")
          .agg(count(one).cast(LongType).as("n_kept"),
            min("event_id").as("min_id"), max("event_id").as("max_id"),
            dsum(col("value")).as("val_sum"))
      } finally RingRegistry.remove(name)
    },

    // Reject-new + backpressure (q149): two producer threads push the
    // same record set through an undersized ring while the stream drains
    // it live; consumer progress gates the producers, and exactly-once
    // delivery means the result equals the full input — regardless of
    // thread interleaving.
    // ---- bus backpressure: reject-new, exactly-once --------------------
    // 8192-slot ring carrying 50k records (~6 full refill cycles): two
    // producer threads split the slice odd/even (MPMC), block on the full
    // ring, and are released by the consumer's progress. Every record is
    // delivered exactly once, so the aggregate equals the full input
    // slice — the thread interleaving cannot show through. (Planning a
    // batch frees its slots, so the producers refill the ring while that
    // batch runs and each micro-batch of fixed scheduling overhead
    // carries up to a full ring; the HARD undersizing proof — 4096
    // records through 128 slots — lives in RingSourceSpec, where the row
    // volume is small enough that 32 wraps stay cheap.)
    Qry(
      "q149_ring_backpressure",
      s"""WITH $oracleFirstCte
         |SELECT event_type, COUNT(*) AS n,
         |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
         |  ${dsumSql("value")} AS val_sum
         |FROM f GROUP BY event_type""".stripMargin) { (spark, dir) =>
      val name = s"q149_${ringCounter.incrementAndGet()}"
      val src = firstEvents(spark, dir)
      val rows = src.collect()
      val ring = RingRegistry.create(name, src.schema,
        capacity = 8192, dropOldest = false)
      try {
        val got = Streams.drainRingUntil(spark, name, rows.length.toLong) {
          val half = new Thread(() =>
            rows.indices.by(2).foreach(i => ring.enqueue(rows(i))),
            s"$name-even")
          half.setDaemon(true)
          half.start()
          rows.indices.drop(1).by(2).foreach(i => ring.enqueue(rows(i)))
          half.join(120000)
        }
        got.groupBy("event_type")
          .agg(count(one).cast(LongType).as("n"),
            min("event_id").as("min_id"), max("event_id").as("max_id"),
            dsum(col("value")).as("val_sum"))
      } finally RingRegistry.remove(name)
    },

    // Streaming trending top-k (q169): sliding-window event-type ranking
    // (30 min windows, 15 min slide) — the live-dashboard shape; the
    // streaming agg runs to completion and the rank is assigned over the
    // final windows, oracle-checked by enumerating each event's two
    // covering windows in SQL.
    // ---- streaming sliding-window trending top-k ----------------------
    // A real streaming query (file-stream → watermark → 30 min windows
    // sliding 15 min → memory sink) ranked after completion; the oracle
    // enumerates each event's two covering windows. Scale shape: the
    // streaming agg state is (windows × types)-bounded; the rank runs
    // over the final agg output (windows × types rows), top-k per window
    // via rank-limit pushdown.
    Qry(
      "q169_stream_trending",
      s"""WITH e AS (${Relational.eventsMsSql}),
         |wins AS (SELECT event_type,
         |    unnest([ms - ms % $SlideMs, ms - ms % $SlideMs - $SlideMs])
         |      AS wstart_ms
         |  FROM e),
         |agg AS (SELECT wstart_ms, event_type, COUNT(*) AS n
         |        FROM wins GROUP BY 1, 2)
         |SELECT wstart_ms, rk, event_type, n
         |FROM (SELECT *, row_number() OVER (PARTITION BY wstart_ms
         |        ORDER BY n DESC, event_type) AS rk FROM agg)
         |WHERE rk <= $TrendK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val src = Streams.fileStream(spark, dir, "events")
      val agg = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "30 minutes", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
      Streams.runToMemory(agg, "complete")
        .select(unix_millis($"window.start").as("wstart_ms"),
          $"event_type", $"n")
        .withColumn("rk", row_number().over(
          Window.partitionBy($"wstart_ms").orderBy($"n".desc, $"event_type")))
        .filter($"rk" <= TrendK)
        .select($"wstart_ms", $"rk", $"event_type", $"n")
    },

    // Enrich a live tick stream (errors) with the latest reference row
    // (click) at or before each tick's event time. Mechanism: ticks and
    // references flow as ONE user-keyed stream through `transformWithState`
    // (q130's RocksDB provider); per-key state is a single latest-reference
    // ValueState — O(1) per key, no buffered join state, no row
    // amplification (a stream-static `c.ms <= e.ms` join would pay |ticks|
    // x |prior clicks| before aggregating it back down). Oracle: the BATCH
    // as-of q25 CTE restricted to the streamed slice, so stream/batch
    // equivalence is inside the gate hash (the q194 proof pattern).
    // Reference tie: consumer-side enrichment/lag analytics,
    // reference/src/tests/integration_test.rs:241-270.
    Qry(
      "q238_stream_asof",
      AsOfOracle) { (spark, dir) =>
      import spark.implicits._
      // Single-batch delivery is PINNED by construction:
      // Streams.fileStream exposes the fixture through exactly ONE
      // symlink (linkDir copies=1) and sets no maxFilesPerTrigger, so
      // the file source admits the whole slice as one micro-batch and
      // the documented in-order contract above is vacuously satisfied
      // in this gate. The cross-batch/out-of-order delivery shape is
      // gated separately by the watermark-buffered variant (q254),
      // whose source splits the slice across micro-batches on purpose.
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = Streams.fileStream(spark, dir, "events")
          .filter($"event_type".isin("click", "error"))
          .select($"user_id", unix_millis($"ts").as("ms"),
            ($"event_type" === "click").as("is_ref"),
            $"event_id", $"value")
          .as[(Long, Long, Boolean, Long, Double)]
        val out = src.groupByKey(_._1)
          .transformWithState(new LatestRefEnrich, TimeMode.None(),
            OutputMode.Append())
          .toDF()
        Streams.runToMemory(out, "append")
          .select($"event_id", $"user_id", $"ms", $"value",
            $"click_id", $"click_ms", $"click_value",
            ($"ms" - $"click_ms").as("gap_ms"))
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // OHLC resampling under Structured Streaming — q29's bars as
    // a streaming aggregation (min_by/max_by on the (event-time,
    // event_id) key replaces the batch row_number, same deterministic
    // tie-break), sharing q29's oracle semantics so stream/batch
    // equivalence is inside the gate hash (the q44/q193 pattern).
    // ---- OHLC bars under Structured Streaming -----------------------------
    // q29's oracle text (15-minute bars, (event-time, event_id)
    // tie-break); the streaming side replaces the batch row_number with
    // min_by/max_by on the same composite key — identical determinism,
    // and legal inside a streaming aggregation.
    Qry(
      "q244_stream_ohlc",
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
      val src = Streams.fileStream(spark, dir, "events")
        .withColumn("us", unix_micros($"ts"))
      val agg = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(
          min_by($"value", struct($"us", $"event_id")).as("open"),
          max_by($"value", struct($"us", $"event_id")).as("close"),
          max($"value").as("high"), min($"value").as("low"),
          count(one).as("n"), dsum($"value").as("val_sum"))
      Streams.runToMemory(agg, "complete")
        .select($"window.start".as("bucket"), $"event_type",
          $"open", $"close", $"high", $"low", $"n", $"val_sum")
    },

    // Out-of-order streaming as-of. The in-order gate (q238)
    // documents that a reference arriving in a LATER micro-batch than a
    // tick it should enrich is late data; here that case is the POINT:
    // the source deliberately splits the events slice so one third of
    // the references arrive one micro-batch after every tick
    // (maxFilesPerTrigger=1 over [[Streams.partedDir]]'s three mod-time
    // ordered parts), and [[BufferedAsOfEnrich]] must still produce the
    // exact batch as-of answer by buffering ticks until the watermark
    // passes them. The watermark delay is sized to the slice's full
    // event-time span so every cross-batch reference is inside the
    // watermark (the gate pins correctness of the BUFFERING; the
    // small-delay/incremental-drain path is pinned by the spec's state
    // machine); a far-future reference-only sentinel row (key -1, never
    // a tick key) advances the final watermark past every real event so
    // the timers flush the tails — the stream-side analog of "close the
    // window". Oracle: the SAME batch as-of CTE as the in-order gate
    // ([[AsOfOracle]]), so both stream designs provably
    // enrich to one batch answer. Reference tie: the reference's
    // consumers tolerate arbitrary producer interleaving
    // (reference/src/tests/integration_test.rs:209-293).
    Qry(
      "q254_stream_asof_ooo",
      AsOfOracle) { (spark, dir) =>
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = Tables(spark, dir).events
          .filter($"event_type".isin("click", "error"))
          .select($"user_id", unix_millis($"ts").as("ms"),
            ($"event_type" === "click").as("is_ref"),
            $"event_id", $"value")
        // bounded driver state: ONE (min, max) row sizes the watermark
        // delay to the slice's span, so every scrambled reference lands
        // inside the watermark and the gate is exact (production picks
        // a small delay; the buffering logic is identical)
        val mm = ev.agg(min($"ms"), max($"ms")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val delayMs = hi - lo + 60000L
        val sentinelMs = hi + delayMs + 60000L
        // cross-batch scramble: every third reference arrives one
        // micro-batch AFTER all ticks (hash-free, deterministic split)
        val lateRefs = ev.filter($"is_ref" && $"event_id" % 3 === 1)
        val onTime = ev.filter(!($"is_ref" && $"event_id" % 3 === 1))
        val sentinel = spark.range(1).select(
          lit(-1L).as("user_id"), lit(sentinelMs).as("ms"),
          lit(true).as("is_ref"), lit(-1L).as("event_id"),
          lit(0.0).as("value"))
        val srcDir = Streams.partedDir(s"$dir#q254",
          Seq(onTime, lateRefs, sentinel))
        val src = spark.readStream
          .schema(onTime.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .withColumn("ets", timestamp_millis($"ms"))
          .withWatermark("ets", s"$delayMs milliseconds")
          .select($"user_id", $"ms", $"is_ref", $"event_id", $"value",
            $"ets")
          .as[(Long, Long, Boolean, Long, Double, Timestamp)]
        val out = src.groupByKey(_._1)
          .transformWithState(new BufferedAsOfEnrich, TimeMode.EventTime(),
            OutputMode.Append())
          .toDF()
        Streams.runToMemory(out, "append")
          .select($"event_id", $"user_id", $"ms", $"value",
            $"click_id", $"click_ms", $"click_value",
            ($"ms" - $"click_ms").as("gap_ms"))
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // Stream-stream LEFT OUTER interval join — q79's inner join
    // plus watermark-driven unmatched-left emission, the streaming twin
    // of q61 and the reconciliation shape (an error with no click in
    // its 10-minute lookback surfaces as a NULL row once the watermark
    // proves no matching click can still arrive). Matched pairs emit
    // eagerly; the null rows are the streaming-only semantics, emitted
    // in the watermark-advance batch after per-side far-future
    // sentinels close both watermarks. Each side carries its OWN typed
    // sentinel (event_type matching that side's filter, key -1/-2 so
    // they can never join or emit): a single shared sentinel would be
    // filtered below the watermark node when Catalyst pushes the
    // event_type predicate past EventTimeWatermark, and the watermark
    // would silently stall. Oracle: the batch left-outer interval join
    // aggregated per error event. Spec pins that a null row appears
    // ONLY after the watermark crosses the error's join window.
    // ---- stream-stream LEFT OUTER interval join ------------------------
    Qry(
      "q255_stream_left_outer_join",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events)
         |SELECT err.event_id, err.user_id,
         |  CAST(COUNT(c.ms) AS BIGINT) AS n_clicks,
         |  CAST(SUM(err.ms - c.ms) AS BIGINT) AS gap_sum,
         |  ${graft.Exact.dsumSql("c.value")} AS click_val_sum
         |FROM (SELECT * FROM e WHERE event_type = 'error') err
         |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
         |  ON err.user_id = c.user_id
         | AND c.ms >= err.ms - 600000 AND c.ms <= err.ms
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .filter($"event_type".isin("click", "error"))
        .select($"user_id", $"event_id", $"event_type",
          unix_millis($"ts").as("ms"), $"value")
      // bounded driver state: one max row places the sentinels past
      // every join window + watermark delay
      val hi = ev.agg(max($"ms")).head().getLong(0)
      val sentinelMs = hi + 600000L + 1800000L
      // one sentinel PER SIDE (see the query doc): each survives its
      // side's event_type filter, neither can join (-1 vs -2, and the
      // error sentinel's own window end sits past the final watermark
      // so it never emits a null row either)
      def sentinel(uid: Long, eid: Long, kind: String) =
        spark.range(1).select(lit(uid).as("user_id"),
          lit(eid).as("event_id"), lit(kind).as("event_type"),
          lit(sentinelMs).as("ms"), lit(0.0).as("value"))
      val srcDir = Streams.partedDir(s"$dir#q255", Seq(
        ev.unionByName(sentinel(-1L, -1L, "error"))
          .unionByName(sentinel(-2L, -2L, "click"))))
      def side() = spark.readStream.schema(ev.schema).parquet(srcDir)
        .withColumn("ts", timestamp_millis($"ms"))
        .withWatermark("ts", "10 minutes")
      val err = side().filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts".as("ts_e"))
      val clk = side().filter($"event_type" === "click")
        .select($"user_id".as("c_user_id"), $"ts".as("ts_c"),
          $"value".as("cv"))
      val joined = err.join(clk,
        $"user_id" === $"c_user_id" &&
          $"ts_c" >= $"ts_e" - expr("interval 10 minutes") &&
          $"ts_c" <= $"ts_e",
        "left_outer")
        .select($"event_id", $"user_id",
          (unix_millis($"ts_e") - unix_millis($"ts_c")).as("gap_ms"),
          $"cv", $"ts_c")
      // the error sentinel's window never closes (its ms IS the max),
      // so it cannot appear; filter is belt-and-braces for the day the
      // margins change
      Streams.runToMemory(joined, "append")
        .filter($"event_id" >= 0)
        .groupBy($"event_id", $"user_id")
        .agg(count($"ts_c").as("n_clicks"),
          sum($"gap_ms").as("gap_sum"),
          graft.Exact.dsum($"cv").as("click_val_sum"))
    },

    // Stream-stream FULL OUTER interval join — q255's left-outer
    // machinery completed to both sides: matched click/error pairs emit
    // eagerly, an error with no click in its 10-minute lookback emits a
    // null-right row once the watermark proves no click can arrive, and
    // a click matching NO error's window emits a null-LEFT row once the
    // watermark passes the last error window it could have joined. The
    // per-side typed sentinels (q255's design — Catalyst pushes the
    // side filter below EventTimeWatermark, so a shared sentinel would
    // silently stall one watermark) close both sides; both sentinels
    // sit at the global max event time so neither can emit. Oracle: the
    // batch left-outer aggregate per error UNION ALL the anti-joined
    // unmatched clicks.
    // ---- stream-stream FULL OUTER interval join ---------------------------
    Qry(
      "q263_stream_full_outer_join",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events),
         |err AS (SELECT * FROM e WHERE event_type = 'error'),
         |clk AS (SELECT * FROM e WHERE event_type = 'click')
         |SELECT 'error' AS side, err.event_id, err.user_id,
         |  CAST(COUNT(c.ms) AS BIGINT) AS n_clicks,
         |  CAST(SUM(err.ms - c.ms) AS BIGINT) AS gap_sum,
         |  ${graft.Exact.dsumSql("c.value")} AS click_val_sum
         |FROM err LEFT JOIN clk c
         |  ON err.user_id = c.user_id
         | AND c.ms >= err.ms - 600000 AND c.ms <= err.ms
         |GROUP BY 2, 3
         |UNION ALL
         |SELECT 'click', c.event_id, c.user_id,
         |  CAST(0 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
         |FROM clk c
         |WHERE NOT EXISTS (SELECT 1 FROM err
         |  WHERE err.user_id = c.user_id
         |    AND c.ms >= err.ms - 600000 AND c.ms <= err.ms)"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .filter($"event_type".isin("click", "error"))
        .select($"user_id", $"event_id", $"event_type",
          unix_millis($"ts").as("ms"), $"value")
      // bounded driver state: one max row places the sentinels past
      // every join window + watermark delay (the q255 convention)
      val hi = ev.agg(max($"ms")).head().getLong(0)
      val sentinelMs = hi + 600000L + 1800000L
      def sentinel(uid: Long, eid: Long, kind: String) =
        spark.range(1).select(lit(uid).as("user_id"),
          lit(eid).as("event_id"), lit(kind).as("event_type"),
          lit(sentinelMs).as("ms"), lit(0.0).as("value"))
      val srcDir = Streams.partedDir(s"$dir#q263", Seq(
        ev.unionByName(sentinel(-1L, -1L, "error"))
          .unionByName(sentinel(-2L, -2L, "click"))))
      def side() = spark.readStream.schema(ev.schema).parquet(srcDir)
        .withColumn("ts", timestamp_millis($"ms"))
        .withWatermark("ts", "10 minutes")
      val err = side().filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts".as("ts_e"))
      val clk = side().filter($"event_type" === "click")
        .select($"user_id".as("c_user_id"), $"event_id".as("c_event_id"),
          $"ts".as("ts_c"), $"value".as("cv"))
      val joined = err.join(clk,
        $"user_id" === $"c_user_id" &&
          $"ts_c" >= $"ts_e" - expr("interval 10 minutes") &&
          $"ts_c" <= $"ts_e",
        "full_outer")
        .select($"event_id", $"user_id", $"c_event_id", $"c_user_id",
          (unix_millis($"ts_e") - unix_millis($"ts_c")).as("gap_ms"),
          $"cv", $"ts_c")
      // both sentinels sit at the max event time, so neither window
      // ever closes and neither can emit; the id filters are
      // belt-and-braces for the day the margins change
      val rows = Streams.runToMemory(joined, "append")
      val errSide = rows.filter($"event_id".isNotNull &&
          $"event_id" >= 0)
        .groupBy($"event_id", $"user_id")
        .agg(count($"ts_c").as("n_clicks"),
          sum($"gap_ms").as("gap_sum"),
          graft.Exact.dsum($"cv").as("click_val_sum"))
        .select(lit("error").as("side"), $"event_id", $"user_id",
          $"n_clicks", $"gap_sum", $"click_val_sum")
      val clkSide = rows.filter($"event_id".isNull &&
          $"c_event_id" >= 0)
        .select(lit("click").as("side"), $"c_event_id".as("event_id"),
          $"c_user_id".as("user_id"), lit(0L).as("n_clicks"),
          lit(null).cast(LongType).as("gap_sum"),
          lit(null).cast(DoubleType).as("click_val_sum"))
      errSide.unionByName(clkSide)
    },

    // The streaming observability row
    // GATED — the monitoring loop closed in-result, not just in specs.
    //
    // Scale shape: one streaming aggregation keyed by hour window (state
    // = open windows only, time-bounded by the watermark); the split is
    // one bounded (min, max) driver row (q254's device); the drop metric
    // rides the progress reports the runtime already emits.
    //
    // A deliberately half-late events stream: micro-batch 1
    // delivers the NEWER half of the slice (by the slice's own median
    // timestamp); micro-batch 2 is a far-future watermark-advance
    // sentinel (needed as its OWN batch: the late-record filter uses
    // the watermark as of the START of each batch — probed
    // empirically — so the advance and the late arrivals must be
    // batch-separated, exactly the production shape where lateness
    // means "a later trigger"); micro-batch 3 delivers the OLDER
    // half — every row of it now ~15 days behind the watermark, so
    // the windowed aggregation DROPS all of them and reports the drop
    // through `numRowsDroppedByWatermark` (the engine-side twin of
    // the reference consumers' printed progress counters,
    // integration_test.rs:272-277). METRIC SEMANTICS, pinned by the
    // oracle: the stateful operator sits above the final merge, so
    // what it counts is dropped STATE rows — one per distinct closed
    // window per micro-batch (360 here: 15 days x 24 h), not raw
    // late input rows; deterministic because the exchange has already
    // collapsed per-task partials. The gated output: the per-hour
    // counts/sums — which must reflect ONLY the on-time half — with
    // the MEASURED drop count as a grid constant, against an oracle
    // that PREDICTS both from the synthesis parameters (windows over
    // rows above the median; drops = distinct hour-windows at or
    // below it). A one-row disagreement between the runtime's
    // self-reported monitoring number and first-principles arithmetic
    // fails the gate — observability is now a correctness surface.
    // Margins are boundary-free: the 30-day span dwarfs the 1-hour
    // window + 60 s delay, so no row sits near the watermark; the
    // sentinel's own window never finalizes, so it never appears.
    Qry(
      "q354_stream_late_audit",
      s"""WITH e AS (SELECT user_id,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events),
         |b AS (SELECT MIN(ms) AS lo, MAX(ms) AS hi FROM e),
         |p1 AS (SELECT e.* FROM e, b WHERE ms > lo + (hi - lo) // 2),
         |drops AS (SELECT CAST(COUNT(DISTINCT ms // 3600000) AS BIGINT)
         |    AS dropped_rows
         |  FROM e, b WHERE ms <= lo + (hi - lo) // 2)
         |SELECT (ms // 3600000) * 3600000 AS ws_ms,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("value")} AS vsum,
         |  drops.dropped_rows
         |FROM p1 CROSS JOIN drops
         |GROUP BY 1, drops.dropped_rows""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"user_id", unix_millis($"ts").as("ms"), $"value")
      // bounded driver state: one (min, max) row (q254's device) sizes
      // the split and the sentinel
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val mid = lo + (hi - lo) / 2
      val onTime = ev.filter($"ms" > mid)
      val late = ev.filter($"ms" <= mid)
      // far enough that the final watermark passes every real window
      // end (≤ hi + 1 h) but never the sentinel's own window; delivered
      // BEFORE the late part (late-record filtering uses the
      // start-of-batch watermark) and repeated after it (identical ms —
      // a pure flush tick, no further watermark movement)
      val adv = spark.range(1).select(lit(-1L).as("user_id"),
        lit(hi + DelayMs + 2 * 3600000L).as("ms"), lit(0.0).as("value"))
      val srcDir = Streams.partedDir(s"$dir#q354",
        Seq(onTime, adv, late, adv))
      val src = spark.readStream.schema(onTime.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withColumn("ets", timestamp_millis($"ms"))
        .withWatermark("ets", s"$DelayMs milliseconds")
      val agg = src.groupBy(window($"ets", "1 hour"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          dsum($"value").as("vsum"))
      val (out, dropped) = Streams.runToMemoryWithDrops(agg, "append")
      out.select(unix_millis($"window.start").as("ws_ms"), $"n", $"vsum",
        lit(dropped).as("dropped_rows"))
    }
  )
}
