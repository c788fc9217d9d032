package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Graft
import graft.sources.{GraftRing, RingRegistry}
import graft.streaming.Streams

/** Seeded tick generator. Record `i`'s symbol, price and quantity are a
  * pure function of (seed, i), so producers draw indices from a shared
  * counter and need no shared random state. Event time is derived from
  * the ring sequence number the record is enqueued at (1000 records per
  * event-time second), so event time never decreases along the ring and
  * no record can be late unless the stream itself reorders records. */
final class Ticks(seed: Long) {
  import Ticks._

  private def mix(i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def draw(i: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(i, salt), n.toLong).toInt

  def symbol(i: Long): String = SymbolNames(draw(i, 1, Symbols))
  def price(i: Long): Long = 10000L + draw(i, 2, 5000)
  def qty(i: Long): Int = 1 + draw(i, 3, 100)
  def row(i: Long, seq: Long, createdNs: Long): Row =
    Row(symbol(i), price(i), qty(i), eventMs(seq), createdNs)
}

object Ticks {
  val Symbols = 16
  val SymbolNames: Array[String] = Array.tabulate(Symbols)(k => f"SYM$k%02d")
  val EventsPerSecond = 1000
  val BaseMs = 1700000000000L
  def eventMs(seq: Long): Long = BaseMs + seq * 1000L / EventsPerSecond
  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("price", LongType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("event_ms", LongType, nullable = false),
    StructField("created_ns", LongType, nullable = false)))
}

/** Exact per-(window, symbol) tallies: Σ price·qty, Σ qty, count. */
final class Tally {
  val m = new ConcurrentHashMap[(Long, String), Array[Long]]()
  def add(w: Long, sym: String, pq: Long, q: Long): Unit =
    m.compute((w, sym), (_, a) =>
      if (a == null) Array(pq, q, 1L) else { a(0) += pq; a(1) += q; a(2) += 1; a })
}

/** The reference's shape: producers feed a reject-new GraftRing at the
  * catalog's capacity; a graft-ring stream computes a per-symbol
  * 1-second event-time window VWAP with a watermark, in update mode, into
  * a foreachBatch sink owned by the benchmark.
  *
  * Latency is measured without per-record sink work: each record's ring
  * sequence number is captured at enqueue, the stream's progress reports
  * give each batch's offset range (offsets are sequence numbers), and the
  * sink stamps each batch's completion. */
final class VwapPipeline(spark: SparkSession, ringName: String, seed: Long,
    checkpointDir: String, maxRecords: Int, tracer: Tracer, parentKey: String) {

  val ticks = new Ticks(seed)
  val ring: GraftRing = Graft.createRing(ringName, Ticks.schema, Capacity)
  private val probe = new StreamProbe
  private val nextIndex = new AtomicLong(0)
  // indexed by ring sequence number
  private val dueNs = new Array[Long](maxRecords)
  private val enqueuedNs = new Array[Long](maxRecords)
  val expected = new Tally
  val got = new Tally
  private val sinkDoneNs = new ConcurrentHashMap[Long, Long]()
  val sinkNs = new LongAdder
  val accepted = new LongAdder
  val timedOut = new LongAdder
  val calls = new LongAdder
  val refused = new LongAdder
  val busyNs = new LongAdder
  val waitNs = new LongAdder
  val lagSamples = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private var query: StreamingQuery = _

  def start(): Unit = {
    spark.streams.addListener(probe)
    val agg = Streams.ringStream(spark, ringName)
      .withColumn("ts", timestamp_millis(col("event_ms")))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 second"), col("symbol"))
      .agg(sum(col("price") * col("qty")).as("pq"),
        sum(col("qty").cast(LongType)).as("q"), count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w"), col("symbol"),
        col("pq"), col("q"), col("n"), (col("pq") / col("q")).as("vwap"))
    val sink: (DataFrame, Long) => Unit = { (df, batchId) =>
      val t0 = System.nanoTime()
      // update mode: each row carries the window's running totals
      df.collect().foreach { r =>
        got.m.put((r.getLong(0), r.getString(1)),
          Array(r.getLong(2), r.getLong(3), r.getLong(4)))
      }
      val t1 = System.nanoTime()
      sinkNs.add(t1 - t0)
      sinkDoneNs.put(batchId, t1)
    }
    query = agg.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink).start()
  }

  /** Wait until record `i` is due (open loop) and enqueue it, retrying
    * while the ring is full. Returns false on timeout. */
  private def offer(i: Long, due: Long, traced: Boolean): Boolean = {
    if (due > 0) {
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
    }
    val created = if (due > 0) due else System.nanoTime()
    val deadline = System.nanoTime() + EnqueueTimeoutNs
    var spins = 0
    while (true) {
      val t0 = if (traced) System.nanoTime() else 0L
      // hold the ring monitor across the enqueue so the row's sequence
      // number (and the event time derived from it) is the one it gets
      val seq = ring.synchronized {
        val next = ring.latest
        if (ring.tryEnqueue(ticks.row(i, next, created))) next else -1L
      }
      calls.increment()
      if (traced) busyNs.add(System.nanoTime() - t0)
      if (seq >= dueNs.length)
        throw new IllegalStateException(s"more than ${dueNs.length} records")
      if (seq >= 0) {
        val now = System.nanoTime()
        dueNs(seq.toInt) = if (due > 0) due else now
        enqueuedNs(seq.toInt) = now
        accepted.increment()
        val ms = Ticks.eventMs(seq)
        val w = ms - ms % 1000L
        expected.add(w, ticks.symbol(i), ticks.price(i) * ticks.qty(i), ticks.qty(i))
        return true
      }
      refused.increment()
      if (System.nanoTime() > deadline) { timedOut.increment(); return false }
      val w0 = if (traced) System.nanoTime() else 0L
      // the same backoff as GraftRing.enqueue, which cannot be called here:
      // it would sleep holding the ring monitor taken above
      spins += 1
      if (spins > 64) Thread.sleep(1) else Thread.onSpinWait()
      if (traced) waitNs.add(System.nanoTime() - w0)
    }
    false
  }

  /** Run `producers` threads. Open loop when `ratePerSec > 0` (records
    * due on a fixed schedule for `seconds`); closed loop otherwise
    * (`count` records as fast as the ring admits). Enqueues are traced
    * in aggregated blocks. Returns (schedule start ns, next record index). */
  def produce(name: String, producers: Int, ratePerSec: Double,
      seconds: Double, count: Long, traced: Boolean): (Long, Long) = {
    val i0 = nextIndex.get()
    val t0 = System.nanoTime() + 5000000L
    val total =
      if (ratePerSec > 0) (ratePerSec * seconds).toLong else count
    val claimed = new AtomicLong(0)
    val used = new AtomicLong(i0)
    val phase = tracer.open(name, "operation", parentKey)
    val threads = (0 until producers).map { p =>
      val t = new Thread(() => {
        var block = tracer.open("sources.enqueue", "sources", phase.key)
        var n = 0
        var done = false
        while (!done) {
          val k = claimed.getAndIncrement()
          if (k >= total) done = true
          else {
            val due = if (ratePerSec > 0) t0 + (k * 1e9 / ratePerSec).toLong else 0L
            offer(i0 + k, due, traced)
            used.accumulateAndGet(i0 + k + 1, (a: Long, b: Long) => math.max(a, b))
            n += 1
            if (n % 1024 == 0) {
              block.attrs("records") = 1024
              tracer.close(block)
              block = tracer.open("sources.enqueue", "sources", phase.key)
            }
          }
        }
        block.attrs("records") = n % 1024
        tracer.close(block)
      }, s"$name-producer-$p")
      t.setDaemon(true)
      t
    }
    val lagSampler = if (!traced) None else Some {
      val t = new Thread(() => {
        try {
          while (!Thread.currentThread().isInterrupted) {
            lagSamples.add(ring.latest - ring.committed)
            Thread.sleep(50)
          }
        } catch { case _: InterruptedException => () }
      }, s"$name-lag-sampler")
      t.setDaemon(true)
      t.start()
      t
    }
    try {
      threads.foreach(_.start())
      threads.foreach(_.join())
    } finally {
      threads.foreach(_.interrupt())
      threads.foreach(_.join(10000))
      lagSampler.foreach { t => t.interrupt(); t.join(10000) }
      tracer.close(phase)
    }
    nextIndex.set(used.get())
    phase.attrs("records") = (used.get() - i0).toDouble
    (t0, used.get())
  }

  /** Progress reports of this pipeline's stream (other streams of the
    * session, such as catalog queries, report to the same listener). */
  private def progress =
    probe.progress.asScala.toSeq.filter(p => query != null && p.id == query.id)

  /** Progress reports by batch id: (batch id, start seq, end seq). */
  private def ranges: Seq[(Long, Long, Long)] =
    progress.filter(_.sources.nonEmpty).map { p =>
      val s = p.sources.head
      val start = Option(s.startOffset).filter(_ != "null").map(_.trim.toLong)
        .getOrElse(0L)
      val end = Option(s.endOffset).map(_.trim.toLong).getOrElse(start)
      (p.batchId, start, end)
    }.distinct.sortBy(_._1)

  /** Wait until every accepted record has been delivered by a batch whose
    * sink completed and whose progress report arrived. */
  def awaitDrained(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val target = ring.latest
    while (System.currentTimeMillis() < deadline) {
      query.exception.foreach(e => throw e)
      val rs = ranges
      if (rs.nonEmpty && rs.map(_._3).max >= target &&
          rs.filter(_._3 >= target).forall(r => sinkDoneNs.containsKey(r._1)))
        return true
      Thread.sleep(10)
    }
    false
  }

  /** Completion time of the batch that delivered each of the
    * records due in [dueFrom, dueUntil), as latency samples from each
    * record's due time (ms). */
  def latenciesMs(dueFrom: Long, dueUntil: Long): Array[Double] = {
    val out = mutable.ArrayBuffer[Double]()
    ranges.foreach { case (id, s, e) =>
      Option(sinkDoneNs.get(id)).foreach { d =>
        var q = s
        while (q < e) {
          val due = dueNs(q.toInt)
          if (due >= dueFrom && due < dueUntil) out += (d - due) / 1e6
          q += 1
        }
      }
    }
    out.toArray
  }

  /** Completion time of the batch holding sequence number `seq - 1`. */
  def completionNs(seq: Long): Long =
    ranges.find(r => r._2 < seq && r._3 >= seq)
      .flatMap(r => Option(sinkDoneNs.get(r._1))).getOrElse(System.nanoTime())

  def firstEnqueueNs(seq: Long): Long = enqueuedNs(seq.toInt)

  /** How late the open-loop generator ran: the largest gap between a
    * record's due time and its accepted enqueue, over records due in
    * [dueFrom, dueUntil) (ms). */
  def generatorLateMs(dueFrom: Long, dueUntil: Long): Double = {
    var worst = 0L
    var q = 0
    val n = ring.latest.toInt
    while (q < n) {
      val due = dueNs(q)
      if (due >= dueFrom && due < dueUntil) worst = math.max(worst, enqueuedNs(q) - due)
      q += 1
    }
    worst / 1e6
  }

  def batchIds: Seq[Long] = ranges.map(_._1)

  def progressSince(batchId: Long) = progress.filter(_.batchId > batchId)

  /** Output checks, run after the timed window. Returns (failed record
    * count, check name → ok). */
  def check(): (Long, Map[String, Boolean]) = {
    val rs = ranges
    val latest = ring.latest
    val rows = progress.map(_.numInputRows).sum
    val contiguous = rs.isEmpty || (rs.head._2 == 0 &&
      rs.sliding(2).forall { case Seq(a, b) => b._2 == a._3; case _ => true })
    val duplicates = math.max(0L, rows - latest)
    val lost = math.max(0L, accepted.sum - rows)
    val late = progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    val keys = expected.m.keySet.asScala ++ got.m.keySet.asScala
    var mismatched = 0L
    keys.foreach { k =>
      val e = Option(expected.m.get(k)).getOrElse(Array(0L, 0L, 0L))
      val g = Option(got.m.get(k)).getOrElse(Array(0L, 0L, 0L))
      if (!java.util.Arrays.equals(e, g)) mismatched += math.max(e(2), g(2))
    }
    val checks = Map(
      "delivered_equals_enqueued" -> (rows == accepted.sum && latest == accepted.sum),
      "no_duplicate_sequence_numbers" -> (contiguous && duplicates == 0),
      "dropped_zero" -> (ring.dropped == 0),
      "late_rows_zero" -> (late == 0),
      "window_tallies_exact" -> (mismatched == 0),
      "no_enqueue_timeouts" -> (timedOut.sum == 0))
    val failed = timedOut.sum + lost + duplicates + late + ring.dropped +
      (if (contiguous) 0L else 1L) + mismatched
    (math.min(failed, accepted.sum + timedOut.sum), checks)
  }

  def stop(): Unit = {
    try { if (query != null) query.stop() }
    finally {
      spark.streams.removeListener(probe)
      RingRegistry.remove(ringName)
    }
  }

  def records: Long = accepted.sum + timedOut.sum

  def counters: Counters = Counters(calls.sum, refused.sum, accepted.sum,
    busyNs.sum, waitNs.sum, sinkNs.sum)
  private def EnqueueTimeoutNs = 30L * 1000000000L
  private def Capacity = 8192
}
