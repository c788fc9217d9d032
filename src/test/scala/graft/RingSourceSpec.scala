package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{GraftRing, RingRegistry, RingSourceProvider}
import graft.streaming.Streams

/** The in-process MPMC ring-buffer bus behind the `graft-ring` source
  * (sources/RingSource.scala) — the Spark-native restatement of the
  * reference's core structure
  * (`/root/reference/src/memory/low_latency_mpmc_ring.rs:36-135`).
  * Pins the full contract: power-of-two capacity, reject-new vs
  * drop-oldest overflow, plan-time dequeue with a ring-held in-flight
  * batch, destructive consume on the next trigger, partitions that are
  * sequence ranges read from that batch, MPMC exactly-once delivery
  * under live backpressure and across a restart, and the observable
  * drop counter. */
class RingSourceSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  private def row(i: Long): Row = Row(s"k${i % 3}", i)

  /** The ring's micro-batch stream as Spark's engine builds it. */
  private def ringStream(ring: String): MicroBatchStream =
    new RingSourceProvider().getTable(schema, Array.empty, Map("ring" -> ring).asJava)
      .asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream("unused")

  /** Plan the stream's next batch, as a trigger does: `latestOffset`
    * (which releases the previously planned batch), then the plan. */
  private def planNext(stream: MicroBatchStream, start: Long): Array[InputPartition] =
    stream.planInputPartitions(
      stream.deserializeOffset(start.toString), stream.latestOffset())

  private def read(stream: MicroBatchStream, parts: Array[InputPartition]): Seq[Long] = {
    val factory = stream.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      Iterator.continually(r).takeWhile(_.next()).map(_.get().getLong(1)).toSeq
    }
  }

  test("capacity must be a power of two (the reference's contract)") {
    intercept[IllegalArgumentException] {
      new GraftRing("bad", schema, 100, dropOldest = false)
    }
  }

  test("reject-new: full ring refuses, consumer commit frees slots") {
    val ring = RingRegistry.create("rs_reject", schema, 8, dropOldest = false)
    try {
      (0L until 8L).foreach(i => assert(ring.tryEnqueue(row(i))))
      assert(!ring.tryEnqueue(row(8)), "9th enqueue into 8 slots must fail")
      assert(ring.dropped === 0)
      // destructive consume — the reference's consumer-index advance;
      // freed slots accept new records
      ring.consume(3)
      assert(ring.oldest === 3)
      (8L until 11L).foreach(i => assert(ring.tryEnqueue(row(i))))
      assert(!ring.tryEnqueue(row(11)))
    } finally RingRegistry.remove("rs_reject")
  }

  test("drop-oldest: eviction is observable and retains the newest window") {
    val ring = RingRegistry.create("rs_drop", schema, 8, dropOldest = true)
    try {
      (0L until 20L).foreach(i => assert(ring.tryEnqueue(row(i))))
      assert(ring.dropped === 12, "evictions before delivery are counted")
      assert(ring.oldest === 12 && ring.latest === 20)
      // the stream attaches AFTER overflow: it must start at the oldest
      // retained row and deliver exactly the last-8 window
      val got = Streams.runToMemory(
        Streams.ringStream(spark, "rs_drop"), "append")
      assert(got.count() === 8)
      assert(got.agg(min("v"), max("v")).head() === Row(12L, 19L))
    } finally RingRegistry.remove("rs_drop")
  }

  test("drop-oldest under a LIVE consumer: conservation accounting") {
    // Fast producer, small ring, stream racing it: delivery is at-most-
    // once (policy) but ACCOUNTING must be at-least-once — every record
    // is either in the sink or counted in `dropped` (a record evicted
    // after being planned can be double-counted, never lost silently).
    val n = 3000L
    val ring = RingRegistry.create("rs_live", schema, 64, dropOldest = true)
    try {
      val sink = Streams.drainRingUntilQuiet(spark, "rs_live") {
        (0L until n).foreach { i =>
          assert(ring.tryEnqueue(row(i))) // drop-oldest always accepts
          if (i % 256 == 0) Thread.sleep(1) // let batches interleave
        }
      }
      val delivered = sink.select("v").distinct().count()
      assert(sink.count() === delivered, "no duplicate delivery")
      assert(delivered + ring.dropped >= n,
        s"lost records: delivered=$delivered dropped=${ring.dropped}")
      assert(delivered >= 64, "the live stream delivered real batches")
    } finally RingRegistry.remove("rs_live")
  }

  test("MPMC live drain: two producers, 32x-undersized ring, exactly-once") {
    val n = 4096L
    val ring = RingRegistry.create("rs_mpmc", schema, 128, dropOldest = false)
    try {
      val got = Streams.drainRingUntil(spark, "rs_mpmc", n) {
        val odd = new Thread(() =>
          (1L until n by 2).foreach(i => ring.enqueue(row(i))))
        odd.setDaemon(true)
        odd.start()
        (0L until n by 2).foreach(i => ring.enqueue(row(i)))
        odd.join(60000)
      }
      // conservation + uniqueness: every record delivered exactly once,
      // no matter how the producer threads interleaved
      assert(got.count() === n)
      assert(got.select("v").distinct().count() === n)
      assert(got.agg(sum("v")).head().getLong(0) === n * (n - 1) / 2)
      assert(ring.dropped === 0)
      // backpressure actually engaged: the bus is 32x smaller than the
      // data, so the consumer's commits must have freed slots (the
      // producers would otherwise still be blocked)
      assert(ring.committed > 0)
    } finally RingRegistry.remove("rs_mpmc")
  }

  test("dequeue frees the planned slots at once; the in-flight batch serves replans") {
    val ring = RingRegistry.create("rs_dequeue", schema, 8, dropOldest = false)
    try {
      (0L until 8L).foreach(i => assert(ring.tryEnqueue(row(i))))
      val runs = ring.dequeue(0, 8)
      assert(runs === Seq((0L, 8)))
      val planned = ring.inFlight(0, 8).map(_.getLong(1)).toSeq
      assert(planned === (0L until 8L))
      // the producers refill the whole ring while the batch is in flight,
      // before the consumer has committed anything
      (8L until 16L).foreach(i => assert(ring.tryEnqueue(row(i))))
      assert(!ring.tryEnqueue(row(16)))
      assert(ring.committed === 0)
      assert(ring.metrics ===
        Map("queued" -> 8L, "inFlight" -> 8L, "lag" -> 16L, "dropped" -> 0L))
      // the engine plans a batch several times: same range, same rows
      assert(ring.dequeue(0, 8) === runs)
      assert(ring.inFlight(0, 8).map(_.getLong(1)).toSeq === planned)
      ring.consume(8)
      assert(ring.metrics("inFlight") === 0)
      assert(ring.dequeue(0, 8).isEmpty)
      assert(ring.inFlight(0, 8).isEmpty)
      assert(ring.dequeue(8, 16) === Seq((8L, 8)))
      assert(ring.inFlight(8, 16).map(_.getLong(1)).toSeq === (8L until 16L))
    } finally RingRegistry.remove("rs_dequeue")
  }

  test("reject-new restart: the failed batch replays from the ring, exactly-once") {
    // The sink throws once, on the first non-empty batch, after that
    // batch was dequeued; the producers refill the freed slots while the
    // query is down. The restarted query (same checkpoint, new stream
    // object) must find the failed batch's rows on the ring.
    val n = 2000L
    val ring = RingRegistry.create("rs_restart", schema, 64, dropOldest = false)
    val ckpt = java.nio.file.Files.createTempDirectory("rs_restart_").toString
    val seen = new ConcurrentLinkedQueue[java.lang.Long]()
    val failOnce = new AtomicBoolean(true)
    def start() = Streams.ringStream(spark, "rs_restart").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val vs = df.select("v").collect().map(_.getLong(0))
        if (vs.nonEmpty && failOnce.getAndSet(false))
          throw new IllegalStateException("sink fails once")
        vs.foreach(v => seen.add(v))
      }.start()
    val producer = new Thread(() =>
      (0L until n).foreach(i => ring.enqueue(row(i), 60000L)))
    producer.setDaemon(true)
    try {
      producer.start()
      intercept[StreamingQueryException](start().awaitTermination(60000L))
      assert(!failOnce.get, "the sink's failure stopped the first query")
      val q = start()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (seen.size < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(20)
        }
        producer.join(10000L)
        q.processAllAvailable()
        // every progress event carries the ring's occupancy
        val keys = Set("queued", "inFlight", "lag", "dropped")
        assert(q.recentProgress.nonEmpty && q.recentProgress.forall(
          _.sources.forall(s => keys.subsetOf(s.metrics.keySet.asScala))))
        assert(q.lastProgress.sources.head.metrics.get("dropped") === "0")
      } finally q.stop()
      val got = seen.asScala.map(_.longValue).toSeq
      assert(got.size === n)
      assert(got.distinct.size === n)
      assert(got.sum === n * (n - 1) / 2)
      assert(ring.dropped === 0)
    } finally RingRegistry.remove("rs_restart")
  }

  test("drop-oldest under a LIVE consumer: planned rows are never evicted") {
    // Eviction touches only queued rows, so every record is delivered or
    // counted in `dropped`, never both: exact conservation.
    val n = 3000L
    val ring = RingRegistry.create("rs_live_exact", schema, 64, dropOldest = true)
    try {
      val sink = Streams.drainRingUntilQuiet(spark, "rs_live_exact") {
        (0L until n).foreach { i =>
          assert(ring.tryEnqueue(row(i)))
          if (i % 256 == 0) Thread.sleep(1)
        }
      }
      val delivered = sink.select("v").distinct().count()
      assert(sink.count() === delivered, "no duplicate delivery")
      assert(delivered + ring.dropped === n,
        s"delivered=$delivered dropped=${ring.dropped}")
      assert(delivered >= 64, "the live stream delivered real batches")
    } finally RingRegistry.remove("rs_live_exact")
  }

  test("a planned partition is a sequence range: its size does not grow with the batch") {
    // Rows do not ride in the plan, so Spark's closure checks and task
    // binaries serialize a few hundred bytes per batch, not the batch.
    val ring = RingRegistry.create("rs_range", schema, 8192, dropOldest = false)
    try {
      val stream = ringStream("rs_range")
      val ser = new JavaSerializer(new SparkConf()).newInstance()
      (0L until 64L).foreach(i => assert(ring.tryEnqueue(row(i))))
      val small = planNext(stream, 0)
      assert(read(stream, small) === (0L until 64L))
      (64L until 8256L).foreach(i => assert(ring.tryEnqueue(row(i))))
      val full = planNext(stream, 64)
      assert(full.length === 1 && read(stream, full) === (64L until 8256L))
      val fullBytes = ser.serialize(full).limit()
      assert(fullBytes < 1024, s"$fullBytes bytes for 8192 planned rows")
      assert(fullBytes === ser.serialize(small).limit())
    } finally RingRegistry.remove("rs_range")
  }

  test("a large range is planned as at most 4 slices that read it whole") {
    val ring = RingRegistry.create("rs_slices", schema, 32768, dropOldest = false)
    try {
      val stream = ringStream("rs_slices")
      (0L until 20000L).foreach(i => assert(ring.tryEnqueue(row(i))))
      val parts = planNext(stream, 0)
      assert(parts.length === 3)
      assert(read(stream, parts) === (0L until 20000L))
      // a replan of the range (the engine makes several) plans the same
      val replan = stream.planInputPartitions(
        stream.deserializeOffset("0"), stream.deserializeOffset("20000"))
      assert(replan.toSeq === parts.toSeq)
    } finally RingRegistry.remove("rs_slices")
  }

  test("a read after the range is consumed fails loudly, naming ring and range") {
    val ring = RingRegistry.create("rs_released", schema, 8, dropOldest = false)
    try {
      val stream = ringStream("rs_released")
      (0L until 8L).foreach(i => assert(ring.tryEnqueue(row(i))))
      val parts = planNext(stream, 0)
      ring.consume(8)
      val e = intercept[IllegalStateException](
        stream.createReaderFactory().createReader(parts.head))
      assert(e.getMessage.contains("'rs_released'") && e.getMessage.contains("[0, 8)"),
        e.getMessage)
    } finally RingRegistry.remove("rs_released")
  }

  test("a partition naming a ring not in this JVM fails, saying where it is read") {
    RingRegistry.create("rs_elsewhere", schema, 8, dropOldest = false)
    val stream = ringStream("rs_elsewhere")
    (0L until 8L).foreach(i => RingRegistry.get("rs_elsewhere").tryEnqueue(row(i)))
    val parts = planNext(stream, 0)
    RingRegistry.remove("rs_elsewhere")
    val e = intercept[IllegalArgumentException](
      stream.createReaderFactory().createReader(parts.head))
    assert(e.getMessage.contains("read in the JVM that owns the ring"), e.getMessage)
  }

  test("property: concurrent producers, a restart, both policies — exactly-once or counted loss") {
    // Each seeded case draws the ring's capacity, 1-4 producers, the
    // overflow policy, and whether the sink throws once — on the batch
    // that brings delivery to a random record count, so on a random
    // non-empty batch — making the query restart from its checkpoint.
    // Every case reaches that count: at least the last `capacity`
    // records are delivered under either policy.
    val rnd = new scala.util.Random(7L)
    (1 to 20).foreach { c =>
      val capacity = 8 << rnd.nextInt(6)
      val producers = 1 + rnd.nextInt(4)
      val dropOldest = rnd.nextBoolean()
      val throwOnce = rnd.nextBoolean()
      val n = capacity * (2L + rnd.nextInt(7))
      val failAt = 1 + rnd.nextInt(capacity)
      val name = s"rs_prop_$c"
      withClue(s"case $c: capacity=$capacity producers=$producers " +
          s"dropOldest=$dropOldest throwOnce=$throwOnce n=$n failAt=$failAt: ") {
        val ring = RingRegistry.create(name, schema, capacity, dropOldest)
        val ckpt = java.nio.file.Files.createTempDirectory(s"${name}_").toString
        val seen = new ConcurrentLinkedQueue[java.lang.Long]()
        val failOnce = new AtomicBoolean(throwOnce)
        def start() = Streams.ringStream(spark, name).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            val vs = df.select("v").collect().map(_.getLong(0))
            if (vs.nonEmpty && seen.size + vs.length >= failAt && failOnce.getAndSet(false))
              throw new IllegalStateException("sink fails once")
            vs.foreach(v => seen.add(v))
          }.start()
        val threads = (0 until producers).map { p =>
          val t = new Thread(() => (p.toLong until n by producers).foreach { i =>
            if (dropOldest) {
              ring.tryEnqueue(row(i))
              if (i % 4 == 0) Thread.sleep(1) // let batches interleave
            } else ring.enqueue(row(i), 60000L)
          })
          t.setDaemon(true)
          t
        }
        try {
          var q = start()
          threads.foreach(_.start())
          if (throwOnce) {
            intercept[StreamingQueryException](q.awaitTermination(60000L))
            q = start()
          }
          try {
            threads.foreach(_.join(60000L))
            q.processAllAvailable()
          } finally q.stop()
          assert(!failOnce.get, "the sink's failure restarted the query")
          val got = seen.asScala.map(_.longValue).toSeq
          assert(got.distinct.size === got.size, "no duplicate delivery")
          if (dropOldest) assert(got.size + ring.dropped === n)
          else {
            assert(got.size === n)
            assert(got.sum === n * (n - 1) / 2)
            assert(ring.dropped === 0)
          }
        } finally RingRegistry.remove(name)
      }
    }
  }
}
